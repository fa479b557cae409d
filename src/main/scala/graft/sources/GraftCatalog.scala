package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** V2 catalog plugin: `spark.sql.catalog.<name> = graft.sources.GraftCatalog`
  * (+ `spark.sql.catalog.<name>.warehouse = <dir>`) makes graftsink
  * tables resolvable BY IDENTIFIER — the surface that turns the
  * connector from a `format(...).option("path", ...)` library into a
  * lakehouse catalog a SQL user can address:
  *
  *  - `CREATE/REPLACE TABLE cat.ns.t`, CTAS, `INSERT INTO`, `DROP`,
  *    `SHOW TABLES` route through [[TableCatalog]] to staged-commit
  *    graftsink tables at `<warehouse>/<ns...>/<t>`;
  *  - `SELECT ... FROM cat.ns.t VERSION AS OF n` routes through
  *    `loadTable(ident, version)` to the immutable `_manifest.vN`
  *    snapshots — the TEXTUAL time-travel surface over q351's
  *    mechanism; `TIMESTAMP AS OF t` resolves through the monotone
  *    commit stamps every writeManifest publishes (newest snapshot
  *    committed ≤ t, loud refusal before the first commit);
  *  - `DELETE FROM` / `UPDATE` / `MERGE INTO` resolve through the
  *    identifier to the table's SupportsRowLevelOperations
  *    implementation (GraftSinkSource.scala);
  *  - scalar functions (`cat.fns.md5_mod`, `cat.fns.jaro_winkler`)
  *    resolve through [[FunctionCatalog]] to bound functions whose
  *    magic `invoke` methods Catalyst compiles to a direct Invoke
  *    call — the V2 route to the same native kernels the session
  *    registry exposes (org.apache.spark.sql.GraftFunctions), minus
  *    the session-registration requirement.
  *
  * Namespaces are directories; a directory is a TABLE iff it contains
  * a published `_manifest`. A created-but-never-written table is a
  * committed EMPTY snapshot (v1 = DDL + zero files), so its schema is
  * durable catalog state, not driver memory. Identifier parts are
  * restricted to [A-Za-z0-9_] — the catalog never lets an identifier
  * escape the warehouse root via `..` or separators.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
  with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' requires option 'warehouse' " +
          s"(set spark.sql.catalog.$name.warehouse)"))
  }

  override def name(): String = catalogName

  /** Column DEFAULT values are supported (initial + current — q395):
    * declared so the analyzer lets `DEFAULT` clauses through to
    * createTable/alterTable, where they become durable `default.<col>`
    * props. */
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.Set.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Literal defaults carried in CREATE TABLE schema metadata
    * (CURRENT_DEFAULT), parsed with Catalyst's own parser and cast to
    * the column type — anything non-literal is refused loudly. */
  private def defaultsFromMetadata(schema: StructType): Map[String, String] =
    schema.fields.flatMap { f =>
      if (!f.metadata.contains("CURRENT_DEFAULT")) None
      else {
        val sql = f.metadata.getString("CURRENT_DEFAULT")
        val lit = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(sql) match {
          case l: org.apache.spark.sql.catalyst.expressions.Literal => l
          case other => throw new IllegalArgumentException(
            s"graft catalog: default for '${f.name}' must be a literal, got $sql")
        }
        val casted = org.apache.spark.sql.catalyst.expressions.Cast(
          lit, f.dataType, Some("UTC")).eval(null)
        Some(f.name -> GraftSink.encodeDefault(casted))
      }
    }.toMap

  private def checkPart(p: String): String = {
    require(p.nonEmpty && p.forall(c => c.isLetterOrDigit || c == '_'),
      s"graft catalog: identifier part '$p' (allowed: letters, digits, _)")
    p
  }

  private def nsPath(namespace: Array[String]): HPath =
    namespace.foldLeft(new HPath(warehouse))((p, n) => new HPath(p, checkPart(n)))

  private def tablePath(ident: Identifier): HPath =
    new HPath(nsPath(ident.namespace()), checkPart(ident.name()))

  private def fs = GraftSink.fs(warehouse)

  private def isTable(p: HPath): Boolean =
    fs.exists(new HPath(p, GraftSink.MANIFEST))

  // ------------------------------------------------------------------
  // TableCatalog
  // ------------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).collect {
      // dot-prefixed dirs are in-flight CTAS/RTAS stages, never tables
      case st if st.isDirectory && !st.getPath.getName.startsWith(".") &&
          isTable(st.getPath) =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) {
      // METADATA TABLES (`SELECT * FROM cat.ns.t.files` — the Iceberg
      // inspection surface): when the identifier's LAST namespace part
      // is itself a table, `files`/`snapshots`/`refs` serve that
      // table's manifest metadata as a read-only relation.
      if (ident.namespace().nonEmpty &&
          GraftCatalog.METADATA_TABLES(ident.name())) {
        val parent = nsPath(ident.namespace())
        if (isTable(parent))
          return new GraftCatalog.GraftMetadataTable(parent.toString, ident.name())
      }
      throw new NoSuchTableException(ident)
    }
    new GraftSinkTable(p.toString, loadSchema(p, None), None)
  }

  /** SQL `VERSION AS OF n` — the identifier-path spelling of the
    * connector's `option("version", n)` snapshot pin. A non-numeric
    * argument resolves as a NAMED REF (`VERSION AS OF 'audit'` reads
    * the branch/tag head — Iceberg's branch-read spelling). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val v = try version.trim.toInt catch {
      case _: NumberFormatException => GraftSink.resolveRef(p.toString, version.trim)
    }
    new GraftSinkTable(p.toString, loadSchema(p, Some(v)), Some(v))
  }

  /** SQL `TIMESTAMP AS OF t` — resolves to the NEWEST snapshot whose
    * commit wall-clock (the `ts:` stamp every writeManifest publishes,
    * strictly monotone across commits) is ≤ t; a t before the first
    * commit fails loudly instead of serving "some nearby version".
    * Spark passes t in MICROSECONDS since epoch; stamps are millis.
    * Pre-stamp manifests (written before the `ts:` segment existed)
    * count as timestamp 0 — they predate any queryable instant. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val tMillis = timestamp / 1000L
    val versions = GraftSink.listVersions(p.toString)
    val at = versions.reverse.find { v =>
      GraftSink.readManifestRaw(p.toString, Some(v)).flatMap(_.ts).getOrElse(0L) <= tMillis
    }.getOrElse(throw new IllegalArgumentException(
      s"graft catalog: no snapshot of ${ident} committed at or before " +
        s"timestamp $tMillis ms (earliest: v${versions.headOption.getOrElse(0)})"))
    new GraftSinkTable(p.toString, loadSchema(p, Some(at)), Some(at))
  }

  private def loadSchema(p: HPath, version: Option[Int]): StructType =
    GraftSink.readManifestRaw(p.toString, version) // head-only: ddl
      .map(m => StructType.fromDDL(m.ddl))
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog: no committed snapshot at $p"))

  // IDENTITY partition transforms only (`PARTITIONED BY (col)` /
  // `.partitionedBy(col(...))`): every data file then belongs to ONE
  // partition tuple, recorded as its manifest `part:` segment — the
  // directory-grain pruning index. Bucket/time transforms are
  // refused loudly (the clusterBy write option covers hash layouts).
  private def validatedPartCols(schema: StructType,
      partitions: Array[Transform]): (Seq[String], Option[(String, Int)]) = {
    def checkCol(c: String, what: String): Unit = {
      require(schema.fieldNames.contains(c),
        s"graft catalog: $what column '$c' not in the table schema")
      val dt = schema(schema.fieldIndex(c)).dataType
      require(dt == org.apache.spark.sql.types.LongType ||
          dt == org.apache.spark.sql.types.IntegerType ||
          dt == org.apache.spark.sql.types.StringType,
        s"graft catalog: $what column '$c' must be BIGINT/INT/STRING, got ${dt.sql}")
    }
    // BUCKET transform (`PARTITIONED BY (bucket(n, col))`): exactly one,
    // never mixed with identity columns — the hash layout owns routing.
    val buckets = partitions.toSeq.filter(_.name == "bucket").map { t =>
      require(partitions.length == 1,
        "graft catalog: bucket(n, col) cannot combine with other partition transforms")
      val ref = t.references()(0).fieldNames()
      require(ref.length == 1,
        "graft catalog: bucket() wants a top-level column, got " + ref.mkString("."))
      val n = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new IllegalArgumentException(
        s"graft catalog: bucket transform $t carries no bucket count"))
      require(n >= 2 && n <= 4096,
        s"graft catalog: bucket count must be in [2, 4096], got $n")
      checkCol(ref(0), "bucket")
      (ref(0), n)
    }.headOption
    val partCols = partitions.toSeq.filter(_.name != "bucket").map { t =>
      if (t.name != "identity") throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform $t " +
          "(identity columns or bucket(n, col); use the clusterBy write option for sorted layouts)")
      val ref = t.references()(0).fieldNames()
      require(ref.length == 1,
        "graft catalog: PARTITIONED BY wants a top-level column, got " +
          ref.mkString("."))
      ref(0)
    }
    partCols.foreach(checkCol(_, "partition"))
    require(partCols.distinct.length == partCols.length,
      "graft catalog: duplicate partition column")
    (partCols, buckets)
  }

  // `write.*` TBLPROPERTIES become durable table state (_props) —
  // write.mode=merge-on-read flips row-level SQL to delete vectors
  private def validatedProps(properties: JMap[String, String],
      partCols: Seq[String], buckets: Option[(String, Int)] = None,
      defaults: Map[String, String] = Map.empty): Map[String, String] = {
    val userProps = properties.asScala.filter(_._1.startsWith("write.")).toMap ++
      (if (partCols.isEmpty) Map.empty
       else Map(GraftSink.PARTITION_PROP -> partCols.mkString(","))) ++
      buckets.map { case (c, n) => GraftSink.BUCKETS_PROP -> s"$c:$n" } ++
      defaults.map { case (c, enc) => s"${GraftSink.DEFAULT_PROP_PREFIX}$c" -> enc }
    userProps.get("write.mode").foreach { m =>
      require(m == "copy-on-write" || m == "merge-on-read",
        s"graft catalog: write.mode must be copy-on-write or merge-on-read, got '$m'")
    }
    userProps
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    val (partCols, buckets) = validatedPartCols(schema, partitions)
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    require(!isView(p),
      s"graft catalog: a VIEW already exists at ${ident.namespace().mkString(".")}.${ident.name()}")
    GraftSink.checkSchema(schema)
    GraftSink.writeProps(p.toString,
      validatedProps(properties, partCols, buckets, defaultsFromMetadata(schema)))
    // commit an EMPTY snapshot (v1 = DDL + zero files): the schema
    // becomes durable catalog state and a pre-insert read sees 0 rows
    GraftSink.writeManifest(p.toString, GraftSink.Manifest(GraftSink.cleanDdl(schema), Nil))
    new GraftSinkTable(p.toString, schema, None)
  }

  /** Schema evolution as a VERSIONED COMMIT — every change is a
    * metadata-only manifest write; data files are NEVER rewritten:
    *
    *  - **ADD COLUMNS** appends the nullable column; existing files
    *    back-fill NULL on read (short lines pad). On an id-migrated
    *    table the new column is allocated a FRESH field id (never
    *    reusing a dropped id still referenced by old files).
    *  - **RENAME COLUMN** is metadata-only through STABLE FIELD IDS:
    *    the first rename/drop migrates explicit ids into the manifest
    *    (1..n positional, exact for any add-only history) and stamps
    *    every existing file entry's `cols:` layout; after that the
    *    reader resolves columns BY ID per file, so old files keep
    *    serving the renamed column from their original ordinal.
    *  - **DROP COLUMN** removes the field + id from the table schema;
    *    old files still physically carry the ordinal (ignored on
    *    read), and the id is never reallocated while any file
    *    references it.
    *
    * Older snapshot pins keep their OLD schema and ids. Everything
    * else (retype, reposition, nested fields) is refused loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val m = GraftSink.readManifest(p.toString)
      .getOrElse(throw new NoSuchTableException(ident))
    val before = StructType.fromDDL(m.ddl)
    var fields: Seq[(org.apache.spark.sql.types.StructField, Int)] =
      before.fields.toSeq.zip(GraftSink.manifestIds(m))
    // ids never reused while ANY file still references them (dropped
    // columns linger in old files' cols: lists)
    var maxId = (fields.map(_._2) ++
      m.entries.flatMap(_.cols.getOrElse(Nil)))
      .foldLeft(0)(math.max)
    var needIds = m.ids.isDefined
    def single(name: Array[String], what: String): String = {
      require(name.length == 1,
        s"graft catalog: only top-level columns can be ${what} (got ${name.mkString(".")})")
      name(0)
    }
    // default.<col> prop maintenance: adds attach, renames rekey,
    // drops remove — applied in one props rewrite after the manifest
    var propAdd = Map.empty[String, String]
    var propDrop = Set.empty[String]
    // partition/bucket column renames: (from, to) pairs whose manifest
    // tags and spec props rekey in this same metadata commit
    var partRenames = Seq.empty[(String, String)]
    def defKey(c: String) = s"${GraftSink.DEFAULT_PROP_PREFIX}$c"
    changes.foreach {
      case a: TableChange.AddColumn =>
        val n = single(a.fieldNames, "added")
        require(a.isNullable,
          "graft catalog: added columns must be nullable (existing rows back-fill NULL)")
        require(a.position() == null,
          "graft catalog: added columns always land LAST (file ordinals never shift)")
        require(!fields.exists(_._1.name == n),
          s"graft catalog: column '$n' already exists")
        maxId += 1
        fields = fields :+ (org.apache.spark.sql.types.StructField(n, a.dataType()), maxId)
        // INITIAL/CURRENT default (q395): pre-column files read the
        // default back (zero rewrite); inserts omitting the column get
        // it filled by Spark from the schema metadata
        Option(a.defaultValue()).foreach { dv =>
          val lit = dv.getValue()
          require(lit != null,
            s"graft catalog: default for '$n' must be a foldable literal")
          propAdd += defKey(n) -> GraftSink.encodeDefault(lit.value())
        }
      case r: TableChange.RenameColumn =>
        val from = single(r.fieldNames, "renamed")
        require(fields.exists(_._1.name == from),
          s"graft catalog: no column '$from' to rename")
        require(!fields.exists(_._1.name == r.newName),
          s"graft catalog: rename target '${r.newName}' already exists")
        fields = fields.map {
          case (f, id) if f.name == from => (f.copy(name = r.newName), id)
          case other => other
        }
        GraftSink.columnDefaults(p.toString).get(from).foreach { enc =>
          propDrop += defKey(from); propAdd += defKey(r.newName) -> enc
        }
        // PARTITION/BUCKET column rename is metadata-only too: the data
        // files are positional (names never touch bytes), so the rename
        // commit REKEYS the current manifest's `part:`/`stats:` segments
        // and the durable spec props — older snapshots keep the old keys
        // and serve the pre-rename world under time travel
        if (GraftSink.partitionColsOf(p.toString).contains(from) ||
            GraftSink.partitionHistoryOf(p.toString).contains(from) ||
            GraftSink.bucketSpecOf(p.toString).exists(_._1 == from))
          partRenames = partRenames :+ (from -> r.newName)
        needIds = true
      case d: TableChange.DeleteColumn =>
        val n = single(d.fieldNames, "dropped")
        require(!GraftSink.partitionColsOf(p.toString).contains(n) &&
            !GraftSink.bucketSpecOf(p.toString).exists(_._1 == n),
          s"graft catalog: cannot drop partition column '$n'")
        require(fields.exists(_._1.name == n),
          s"graft catalog: no column '$n' to drop")
        require(fields.length > 1,
          "graft catalog: cannot drop the only column")
        fields = fields.filterNot(_._1.name == n)
        propDrop += defKey(n)
        needIds = true
      case sp: TableChange.SetProperty =>
        // durable `write.*` props only (q403): flipping
        // write.mode=merge-on-read mid-life switches row-level SQL
        // from copy-on-write rewrites to delete vectors for every
        // FUTURE statement — existing snapshots are untouched (the
        // mode is a write-path policy, not table state)
        require(sp.property.startsWith("write."),
          s"graft catalog: only write.* table properties are settable " +
            s"(got '${sp.property}')")
        if (sp.property == "write.mode")
          require(sp.value == "copy-on-write" || sp.value == "merge-on-read",
            s"graft catalog: write.mode must be copy-on-write or merge-on-read, got '${sp.value}'")
        propAdd += sp.property -> sp.value
      case rp: TableChange.RemoveProperty =>
        require(rp.property.startsWith("write."),
          s"graft catalog: only write.* table properties are removable " +
            s"(got '${rp.property}')")
        propDrop += rp.property
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other " +
          "(supported: ADD COLUMNS, RENAME COLUMN, DROP COLUMN, " +
          "SET/UNSET TBLPROPERTIES on write.*)")
    }
    val evolved = StructType(fields.map(_._1))
    GraftSink.checkSchema(evolved)
    // first rename/drop MIGRATES: stamp every pre-migration file's
    // positional layout so id-resolution stays exact from here on
    val migrated =
      if (needIds && m.ids.isEmpty) m.entries.map(e =>
        if (e.cols.isDefined) e else e.copy(cols = Some(1 to before.length)))
      else m.entries
    // partition-column rename: rekey every entry's part:/stats: tags
    val files = partRenames.foldLeft(migrated) { case (es, (from, to)) =>
      es.map(_.renamed(from, to))
    }.map(_.line)
    GraftSink.writeManifest(p.toString, GraftSink.Manifest(GraftSink.cleanDdl(evolved), files,
      if (needIds) Some(fields.map(_._2)) else None))
    // spec props rekey in the same ALTER: current spec, past
    // generations, and the bucket spec all follow the new name
    partRenames.foreach { case (from, to) =>
      def rekeyList(key: String): Unit =
        GraftSink.readProps(p.toString).get(key).foreach { raw =>
          propAdd += key -> raw.split(",")
            .map(c => if (c == from) to else c).mkString(",")
        }
      rekeyList(GraftSink.PARTITION_PROP)
      rekeyList(GraftSink.PARTITION_HISTORY_PROP)
      GraftSink.readProps(p.toString).get(GraftSink.BUCKETS_PROP).foreach { raw =>
        val i = raw.lastIndexOf(':')
        if (raw.substring(0, i) == from)
          propAdd += GraftSink.BUCKETS_PROP -> s"$to${raw.substring(i)}"
      }
    }
    if (propAdd.nonEmpty || propDrop.nonEmpty) {
      val next = GraftSink.readProps(p.toString) -- propDrop ++ propAdd
      if (next.nonEmpty) GraftSink.writeProps(p.toString, next)
      else GraftSink.fs(p.toString).delete(new HPath(p, GraftSink.PROPS), false)
    }
    new GraftSinkTable(p.toString, evolved, None)
  }

  // ------------------------------------------------------------------
  // StagingTableCatalog — ATOMIC CTAS / RTAS. The staged table is a
  // fully-functional graftsink table in a HIDDEN sibling directory
  // (`.staged_<name>_<queryId-ish>`): the CTAS/RTAS write runs the
  // normal two-phase connector write INTO THE STAGE (v1 empty + v2
  // data — byte-identical history to the non-atomic path), and only
  // commitStagedChanges makes anything visible:
  //  - CREATE publishes by ONE atomic directory rename into the table
  //    path — a failed/aborted CTAS leaves NO table, only hidden
  //    staging garbage (swept by remove_orphans);
  //  - REPLACE keeps the table's EXISTING version chain: the staged
  //    data files move into the table root (names are queryId-unique)
  //    and one TRUNCATE manifest commits them as the next snapshot —
  //    Iceberg's RTAS semantics, old snapshots stay time-travelable;
  //    abort deletes the stage and the live table never flickers.
  // ------------------------------------------------------------------

  private def stagePath(ident: Identifier): HPath =
    new HPath(nsPath(ident.namespace()),
      s".staged_${checkPart(ident.name())}_${java.util.UUID.randomUUID().toString.replace("-", "")}")

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable = {
    val (partCols, buckets) = validatedPartCols(schema, partitions)
    val p = tablePath(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    GraftSink.checkSchema(schema)
    val stage = stagePath(ident)
    GraftSink.writeProps(stage.toString,
      validatedProps(properties, partCols, buckets, defaultsFromMetadata(schema)))
    GraftSink.writeManifest(stage.toString, GraftSink.Manifest(GraftSink.cleanDdl(schema), Nil))
    new GraftStagedTable(fs, stage, p, schema, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable = {
    val (partCols, buckets) = validatedPartCols(schema, partitions)
    val p = tablePath(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    GraftSink.checkSchema(schema)
    val stage = stagePath(ident)
    GraftSink.writeProps(stage.toString,
      validatedProps(properties, partCols, buckets, defaultsFromMetadata(schema)))
    GraftSink.writeManifest(stage.toString, GraftSink.Manifest(GraftSink.cleanDdl(schema), Nil))
    new GraftStagedTable(fs, stage, p, schema, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: JMap[String, String]): org.apache.spark.sql.connector.catalog.StagedTable =
    if (isTable(tablePath(ident))) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTable(p)) false
    else fs.delete(p, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = tablePath(from)
    if (!isTable(src)) throw new NoSuchTableException(from)
    val dst = tablePath(to)
    if (isTable(dst)) throw new TableAlreadyExistsException(to)
    require(fs.rename(src, dst),
      s"graft catalog: rename $src -> $dst failed")
  }

  // ------------------------------------------------------------------
  // SupportsNamespaces (directories; a table dir is NOT a namespace)
  // ------------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new HPath(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).collect {
      case st if st.isDirectory && !isTable(st.getPath) => Array(st.getPath.getName)
    }
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).collect {
      case st if st.isDirectory && !isTable(st.getPath) =>
        namespace :+ st.getPath.getName
    }
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = nsPath(namespace)
    namespace.isEmpty || (fs.exists(dir) && !isTable(dir))
  }

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    val dir = nsPath(namespace)
    if (fs.exists(dir)) throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!fs.exists(dir)) return false
    if (!cascade) require(fs.listStatus(dir).isEmpty,
      s"graft catalog: namespace ${namespace.mkString(".")} is not empty " +
        "(use CASCADE)")
    fs.delete(dir, true)
  }

  // ------------------------------------------------------------------
  // ViewCatalog: durable SQL VIEWS in the warehouse (the V2 view
  // surface — `CREATE/ALTER/DROP VIEW cat.ns.v`, `SHOW VIEWS`): a view
  // is a directory holding a `_view` definition file (vs `_manifest` =
  // table), so views and tables share the namespace tree and collide
  // loudly. The file stores the ORIGINAL SQL plus the analysis context
  // Spark needs to re-resolve it faithfully later (current catalog/
  // namespace, declared schema, query column names, aliases, comments,
  // properties) — the Iceberg-view storage contract. Values are
  // escaped by the sink's own TSV codec; nothing here is executable
  // state, so no snapshot machinery applies (ALTER VIEW property
  // changes overwrite in place; the view's QUERY is immutable — only
  // CREATE OR REPLACE swaps it).
  // ------------------------------------------------------------------

  private val ViewFile = "_view"

  private def isView(p: HPath): Boolean = fs.exists(new HPath(p, ViewFile))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val dir = nsPath(ns)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && isView(s.getPath))
      .map(s => Identifier.of(ns, s.getPath.getName))
      .sortBy(_.name())
      .toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    try isView(tablePath(ident)) catch { case _: IllegalArgumentException => false }

  override def loadView(ident: Identifier): org.apache.spark.sql.connector.catalog.View = {
    val p = tablePath(ident)
    if (!isView(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      GraftSink.openIn(fs, new HPath(p, ViewFile)), java.nio.charset.StandardCharsets.UTF_8))
    val lines = try Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
                finally in.close()
    def dec(s: String): String =
      GraftSink.decodeField(org.apache.spark.sql.types.StringType, s)
        .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    def one(key: String): String = lines.collectFirst {
      case l if l.startsWith(key + "\t") => dec(l.substring(key.length + 1))
    }.getOrElse(throw new IllegalStateException(
      s"graft catalog: corrupt view file at $p — missing '$key'"))
    def many(key: String): Array[String] = lines.collect {
      case l if l.startsWith(key + "\t") => l.substring(key.length + 1)
    }.map(raw => if (raw == "\\N") null else dec(raw)).toArray
    val props = lines.collect { case l if l.startsWith("prop\t") =>
      val parts = l.split("\t", 3)
      dec(parts(1)) -> dec(parts(2))
    }.toMap
    new GraftCatalog.GraftView(ident.name(), one("sql"), one("catalog"),
      one("ns").split('.').filter(_.nonEmpty),
      StructType.fromDDL(one("schema")), many("qcol"), many("alias"),
      many("comment"), props.asJava)
  }

  private def viewFileBody(
      info: org.apache.spark.sql.connector.catalog.ViewInfo): Array[Byte] = {
    def enc(s: String): String = GraftSink.encodeStringField(s)
    val sb = new StringBuilder
    sb ++= s"sql\t${enc(info.sql())}\n"
    sb ++= s"catalog\t${enc(info.currentCatalog())}\n"
    sb ++= s"ns\t${enc(info.currentNamespace().mkString("."))}\n"
    sb ++= s"schema\t${enc(GraftSink.cleanDdl(info.schema()))}\n"
    Option(info.queryColumnNames()).getOrElse(Array.empty[String])
      .foreach(c => sb ++= s"qcol\t${enc(c)}\n")
    Option(info.columnAliases()).getOrElse(Array.empty[String])
      .foreach(c => sb ++= s"alias\t${enc(c)}\n")
    Option(info.columnComments()).getOrElse(Array.empty[String])
      .foreach(c => sb ++= (if (c == null) "comment\t\\N\n" else s"comment\t${enc(c)}\n"))
    Option(info.properties()).map(_.asScala).getOrElse(Map.empty)
      .foreach { case (k, v) => sb ++= s"prop\t${enc(k)}\t${enc(v)}\n" }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  override def createView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    val p = tablePath(ident)
    if (isView(p))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    if (!fs.exists(nsPath(ident.namespace())))
      throw new NoSuchNamespaceException(ident.namespace())
    val out = fs.create(new HPath(p, ViewFile), false) // create-if-absent: view DDL races lose loudly
    try out.write(viewFileBody(info))
    finally out.close()
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val v = loadView(ident) // loud if missing
    val props = new java.util.HashMap[String, String](v.properties())
    changes.foreach {
      case sp: ViewChange.SetProperty => props.put(sp.property(), sp.value())
      case rp: ViewChange.RemoveProperty => props.remove(rp.property())
      case other => throw new IllegalArgumentException(
        s"graft catalog: unsupported view change $other")
    }
    // rewrite the definition file ATOMICALLY (tmp + rename): a
    // delete-then-create gap would let a crash permanently drop the
    // view and a concurrent reader observe it as missing mid-alter
    GraftSink.atomicOverwrite(fs, new HPath(tablePath(ident), ViewFile),
      viewFileBody(new org.apache.spark.sql.connector.catalog.ViewInfo(ident,
        v.query(), v.currentCatalog(), v.currentNamespace(), v.schema(),
        v.queryColumnNames(), v.columnAliases(), v.columnComments(), props)))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isView(p)) false
    else fs.delete(p, true)
  }

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val pf = tablePath(from)
    if (!isView(pf))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    val pt = tablePath(to)
    if (isView(pt))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(to)
    require(!isTable(pt), s"graft catalog: a table already exists at $pt")
    require(fs.exists(nsPath(to.namespace())),
      s"graft catalog: namespace ${to.namespace().mkString(".")} does not exist")
    require(fs.rename(pf, pt), s"graft catalog: failed to rename view $pf -> $pt")
  }

  // ------------------------------------------------------------------
  // FunctionCatalog: the native kernels behind catalog-qualified names
  // ------------------------------------------------------------------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(GraftCatalog.FN_NS))
      GraftCatalog.functions.keysIterator
        .map(n => Identifier.of(GraftCatalog.FN_NS, n)).toArray
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftCatalog.functions.getOrElse(ident.name(),
      throw new NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    GraftCatalog.functions.contains(ident.name())

  // ------------------------------------------------------------------
  // ProcedureCatalog: the CALL-able lakehouse maintenance verbs
  // (`CALL graft.sys.compact(...)` — the Iceberg-procedures surface).
  // Each procedure returns its audit row through a LocalScan.
  // ------------------------------------------------------------------

  /** Resolve a dotted 'ns.table' procedure argument to the table root,
    * via the same sanitized parts as identifier resolution. */
  private[sources] def procTablePath(dotted: String): String = {
    val parts = dotted.split("\\.")
    require(parts.length >= 2,
      s"graft catalog: procedure table argument must be 'ns.table', got '$dotted'")
    val p = tablePath(Identifier.of(parts.init, parts.last))
    require(isTable(p), s"graft catalog: no table at $p")
    p.toString
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftCatalog.procedures.keysIterator
      .map(n => Identifier.of(GraftCatalog.PROC_NS, n)).toArray

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftCatalog.procedures.get(ident.name()) match {
      case Some(mk) => mk(this)
      case None => throw new IllegalArgumentException(
        s"graft catalog: no procedure '${ident.name()}' " +
          s"(available: ${GraftCatalog.procedures.keys.mkString(", ")})")
    }
}

/** One in-flight atomic CTAS/RTAS: a real graftsink table at a hidden
  * stage path; `commitStagedChanges` is the ONLY visibility point.
  * Reads/writes during staging address the stage (Spark holds this
  * handle internally — the identifier still resolves to the old state
  * through the catalog, which is the isolation contract). */
class GraftStagedTable(fsys: org.apache.hadoop.fs.FileSystem, stage: HPath,
    real: HPath, declared: StructType, replace: Boolean)
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  private val inner = new GraftSinkTable(stage.toString, declared)

  override def name(): String = s"graftsink(staged:$real)"
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    inner.capabilities()
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit =
    if (!replace) {
      // CREATE: one atomic directory move — table appears whole or not
      // at all (v1 empty + v2 data already committed inside the stage,
      // byte-identical history to the non-atomic CTAS path). A rename
      // onto an EXISTING directory would nest the stage inside it on
      // some filesystems instead of failing — re-check and refuse
      // loudly (a concurrent CREATE won the race).
      require(!fsys.exists(real),
        s"graft catalog: staged CTAS publish lost a create race — $real already exists")
      require(fsys.rename(stage, real),
        s"graft catalog: staged CTAS publish failed ($stage -> $real)")
    } else {
      // REPLACE: the staged data files join the table's EXISTING
      // version chain as ONE truncate snapshot — manifest-last, so a
      // crash mid-move leaves orphan files, never a torn table; old
      // snapshots stay time-travelable (Iceberg RTAS semantics)
      val m = GraftSink.readManifest(stage.toString).getOrElse(
        throw new IllegalStateException(s"graft catalog: staged RTAS lost its manifest at $stage"))
      m.entries.foreach { e =>
        val n = e.name
        require(fsys.rename(new HPath(stage, n), new HPath(real, n)),
          s"graft catalog: staged RTAS failed to move $n into $real")
      }
      val props = GraftSink.readProps(stage.toString)
      if (props.nonEmpty) GraftSink.writeProps(real.toString, props)
      else fsys.delete(new HPath(real, GraftSink.PROPS), false)
      GraftSink.writeManifest(real.toString, GraftSink.Manifest(m.ddl, m.files, m.ids))
      fsys.delete(stage, true)
    }

  override def abortStagedChanges(): Unit = {
    fsys.delete(stage, true)
    ()
  }
}

object GraftCatalog {

  /** A loaded V2 view: the stored SQL + the analysis context Spark
    * re-resolves it under. */
  class GraftView(viewName: String, viewSql: String, cat: String,
      ns: Array[String], viewSchema: StructType, qcols: Array[String],
      aliases: Array[String], comments: Array[String],
      props: JMap[String, String])
    extends org.apache.spark.sql.connector.catalog.View {
    override def name(): String = viewName
    override def query(): String = viewSql
    override def currentCatalog(): String = cat
    override def currentNamespace(): Array[String] = ns
    override def schema(): StructType = viewSchema
    override def queryColumnNames(): Array[String] = qcols
    override def columnAliases(): Array[String] = aliases
    override def columnComments(): Array[String] = comments
    override def properties(): JMap[String, String] = props
  }
  val FN_NS: Array[String] = Array("fns")
  val PROC_NS: Array[String] = Array("sys")
  val METADATA_TABLES: Set[String] = Set("files", "snapshots", "refs", "column_stats")

  /** The maintenance procedures (each constructed against the owning
    * catalog so `procTablePath` resolves inside its warehouse):
    *
    *  - **compact(tbl, files)** — rewrite the CURRENT snapshot into
    *    `files` data files via a REAL Spark job (read the connector,
    *    coalesce, overwrite-commit), publishing one new snapshot; old
    *    snapshots keep their files — compaction is just another
    *    time-travelable commit (Iceberg's rewrite_data_files).
    *  - **expire_snapshots(tbl, keep)** — drop all but the newest
    *    `keep` snapshot manifests AND delete the data files no
    *    surviving snapshot references — the GC half of the time-travel
    *    contract (every prior commit noted "a real format GCs by
    *    snapshot-expiry policy"; this is that policy).
    *  - **rollback(tbl, version)** — republish snapshot N's manifest
    *    as a NEW version (rollback-by-reapply, so the audit trail
    *    keeps the mistake AND the revert; never rewrites history).
    */
  val procedures: Map[String, GraftCatalog => UnboundProcedure] = Map(
    "create_view" -> (cat => new GraftProcedure(cat, "create_view",
      "create_view(view, sql): store a durable SQL view (every relation in sql must be catalog-qualified)",
      Array(ProcedureParameter.in("view", StringType).build(),
        ProcedureParameter.in("sql", StringType).build()),
      new StructType().add("view", StringType).add("n_columns", LongType),
      (cat0, args) => {
        // The CREATE VIEW verb, as a procedure: Spark 4.1 has no SQL
        // route into a V2 ViewCatalog (ResolveSessionCatalog refuses),
        // so the DDL rides the CALL surface and READS ride the
        // ResolveGraftViews analyzer rule. The context-freedom contract
        // is enforced HERE: every relation the view's SQL references
        // must be catalog-qualified (3+ parts), so re-parsing under any
        // future session context resolves identically — the property
        // that makes the stored text a durable definition rather than
        // a session-relative macro.
        val dotted = args.getUTF8String(0).toString
        val sql = args.getUTF8String(1).toString
        val parts = dotted.split("\\.")
        require(parts.length >= 2,
          s"graft catalog: view argument must be 'ns.view', got '$dotted'")
        val sp = org.apache.spark.sql.SparkSession.active
        val parsed = sp.sessionState.sqlParser.parsePlan(sql)
        // CTE-defined names are CONTEXT-FREE by construction (they
        // resolve inside the view text itself, never against a session
        // catalog), but on the unresolved parse tree their references
        // are 1-part UnresolvedRelations — collect them from the WITH
        // clauses and exempt them, or any view containing a CTE would
        // be refused as "unqualified"
        val cteNames = parsed.collectWithSubqueries {
          case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
            w.cteRelations.map(_._1.toLowerCase(java.util.Locale.ROOT))
        }.flatten.toSet
        val unqualified = parsed.collectWithSubqueries {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
              if u.multipartIdentifier.length < 3 &&
                !(u.multipartIdentifier.length == 1 && cteNames.contains(
                  u.multipartIdentifier.head.toLowerCase(java.util.Locale.ROOT))) =>
            u.multipartIdentifier.mkString(".")
        }
        require(unqualified.isEmpty,
          "graft catalog: a view's SQL must reference catalog-qualified " +
            s"relations only (cat.ns.t) — got: ${unqualified.mkString(", ")}")
        val schema = sp.sql(sql).schema // analysis only, nothing executes
        val ident = Identifier.of(parts.init, parts.last)
        cat0.createView(new org.apache.spark.sql.connector.catalog.ViewInfo(
          ident, sql, cat0.name(), parts.init, schema,
          schema.fieldNames, schema.fieldNames,
          Array.fill(schema.length)(null: String),
          java.util.Map.of()))
        Array[Any](UTF8String.fromString(dotted), schema.length.toLong)
      })),
    "drop_view" -> (cat => new GraftProcedure(cat, "drop_view",
      "drop_view(view): drop a stored view if it exists",
      Array(ProcedureParameter.in("view", StringType).build()),
      new StructType().add("dropped", LongType),
      (cat0, args) => {
        val parts = args.getUTF8String(0).toString.split("\\.")
        require(parts.length >= 2,
          "graft catalog: view argument must be 'ns.view'")
        val ok = cat0.dropView(Identifier.of(parts.init, parts.last))
        Array[Any](if (ok) 1L else 0L)
      })),
    "zorder" -> (cat => new GraftProcedure(cat, "zorder",
      "zorder(tbl, cols, files): rewrite the table Z-ORDERED on 2-4 BIGINT columns into ~files range files, per-dim min/max stats on every file",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("cols", StringType).build(),
        ProcedureParameter.in("files", IntegerType).build()),
      new StructType().add("files_before", LongType).add("files_after", LongType)
        .add("version", LongType),
      (cat0, args) => {
        // Z-ORDER rewrite (Delta's OPTIMIZE ZORDER BY / Iceberg's
        // sort rewrite with a Z curve — q250 AUDITS this layout; this
        // procedure WRITES it): each row's k ∈ [2,4] dims quantize to
        // ⌊32/k⌋ bits against the table's min/max and bit-interleave
        // into a Morton code (in-row HOF fold, no UDF); ONE range
        // repartition on the code makes every output file a compact
        // Z-curve segment, so each file's [min, max] on EVERY dim is
        // tight and a range predicate on ANY column skips most
        // files — the layout multi-dim selective queries on a 100 TB
        // table live or die by. Per-file stats come from one extra
        // cluster scale both consumers read the one shuffle). Commits
        // as ONE snapshot through the optimistic loop; DVs absorb
        // (the rewrite reads through the connector). Round 13: per-file
        // stats moved INTO the writer tasks (the `statsCols` write
        // option) — no table-sized localCheckpoint, no second stats
        // job, no pid-keyed rename dance; and the publish is GUARDED by
        // the base captured below (`expectedBaseTs`), so a concurrent
        // append/DV commit landing mid-rewrite refuses instead of
        // being silently dropped from the rewritten snapshot.
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val colSpec = args.getUTF8String(1).toString
          .split(",").map(_.trim).filter(_.nonEmpty)
        val k = colSpec.length
        require(k >= 2 && k <= 4,
          s"graft catalog: zorder wants 2-4 columns, got '${colSpec.mkString(",")}'")
        val nFiles = args.getInt(2)
        require(nFiles >= 1 && nFiles <= 4096,
          s"graft catalog: zorder file count must be in [1, 4096], got $nFiles")
        require(GraftSink.partitionColsOf(p).isEmpty && GraftSink.bucketSpecOf(p).isEmpty,
          "graft catalog: zorder on a partitioned/bucketed table is not supported " +
            "(the partition layout owns file routing)")
        val m = GraftSink.mainHead(p).getOrElse(
          throw new IllegalArgumentException(s"graft catalog: no committed table at $p"))
        val schema = StructType.fromDDL(m.ddl)
        colSpec.foreach { c =>
          require(schema.fieldNames.contains(c),
            s"graft catalog: zorder column '$c' not in the table schema")
          require(schema(schema.fieldIndex(c)).dataType == LongType,
            s"graft catalog: zorder columns must be BIGINT, '$c' is " +
              schema(schema.fieldIndex(c)).dataType.sql)
        }
        val sp = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.{broadcast, col, expr, max, min}
        val df = sp.read.format("graftsink").option("path", p).load()
        val boundAggs = colSpec.toSeq.zipWithIndex.flatMap { case (c, d) =>
          Seq(min(col(c)).as(s"__min$d"), max(col(c)).as(s"__max$d")) }
        val bounds = df.agg(boundAggs.head, boundAggs.tail: _*)
        // k dims × ⌊32/k⌋ bits each: 2→16, 3→10, 4→8 — the Morton code
        // always fits well inside a BIGINT. Dim 0 takes the highest bit
        // of each interleave group (matching the 2-dim layout q407/q250
        // pinned: a=2j+1, b=2j). The interleave is UNROLLED into plain
        // shift/mask arithmetic (k·bits ≤ 32 codegen'd terms): a
        // `aggregate(sequence(...))` HOF here is interpreted per row —
        // measured ~25 µs/row, ~5x the whole rest of the quantize
        // pipeline — and the range exchange evaluates the expression
        // TWICE (sampling pass + map pass), exactly the hot path a
        // 100 TB rewrite cannot afford outside whole-stage codegen.
        val bits = 32 / k
        val scale = (1L << bits).toDouble
        val withDims = colSpec.toSeq.zipWithIndex.foldLeft(df.crossJoin(broadcast(bounds))) {
          case (acc, (c, d)) => acc.withColumn(s"__x$d", expr(
            s"cast(floor($scale * ($c - __min$d) / (__max$d - __min$d + 1.0)) as bigint)"))
        }
        val terms = for {
          j <- 0 until bits; d <- colSpec.indices
        } yield s"shiftleft(shiftright(__x$d, $j) & 1, ${k * j + (k - 1 - d)})"
        val ordered = withDims
          .withColumn("__z", expr(terms.mkString(" + ")))
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions(col("__z"))
        // ONE job, ONE guarded commit: each writer task streams its
        // Z-range once, tracking every dim's min/max as it goes
        // (statsCols) — at 100 TB there is no second pass and no
        // executor-storage pin; and the truncate guard is seeded with
        // the base read above, so a commit racing the rewrite refuses
        // loudly instead of vanishing from the new snapshot.
        ordered.select(schema.fieldNames.map(col).toIndexedSeq: _*)
          .write.format("graftsink").mode("overwrite")
          .option("path", p)
          .option("statsCols", colSpec.mkString(","))
          .option("expectedBaseTs", m.ts.map(_.toString).getOrElse("none"))
          .save()
        val after = GraftSink.mainHead(p).get
        Array[Any](m.files.size.toLong, after.files.size.toLong,
          GraftSink.listVersions(p).last.toLong)
      })),
    "compact" -> (cat => new GraftProcedure(cat, "compact",
      "compact(tbl, files): rewrite the current snapshot into `files` data files",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("files", IntegerType).build()),
      new StructType().add("new_version", LongType).add("files_before", LongType)
        .add("files_after", LongType),
      (cat0, args) => {
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val n = args.getInt(1)
        require(n >= 1, s"graft catalog: compact wants files >= 1, got $n")
        val base = GraftSink.mainHead(p).getOrElse(
          throw new IllegalArgumentException(s"graft catalog: no committed table at $p"))
        val sp = org.apache.spark.sql.SparkSession.active
        // preserve the file-skipping index across compaction: re-track
        // every stats column the base snapshot's entries record
        // (Iceberg compactions keep column metrics — dropping them
        // would silently degrade pruning after every compact). The
        // coalesced files' envelopes are wider but still exact.
        val schema0 = StructType.fromDDL(base.ddl)
        val statCols = base.entries.flatMap(_.stats.map(_._1)).distinct
          .filter(c => schema0.fieldNames.contains(c) &&
            schema0(schema0.fieldIndex(c)).dataType == LongType)
        val w = sp.read.format("graftsink").option("path", p).load()
          .coalesce(n)
          .write.format("graftsink").mode("overwrite").option("path", p)
          // same lost-update guard as zorder: the rewrite's content is
          // the base snapshot; a commit landing mid-compact refuses
          .option("expectedBaseTs", base.ts.map(_.toString).getOrElse("none"))
        (if (statCols.nonEmpty) w.option("statsCols", statCols.mkString(","))
         else w).save()
        val m = GraftSink.mainHead(p).get
        Array[Any](GraftSink.listVersions(p).last.toLong,
          base.files.size.toLong, m.files.size.toLong)
      })),
    "expire_snapshots" -> (cat => new GraftProcedure(cat, "expire_snapshots",
      "expire_snapshots(tbl, keep): drop all but the newest `keep` snapshots and GC unreferenced files",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("keep", IntegerType).build()),
      new StructType().add("versions_removed", LongType)
        .add("files_removed", LongType).add("versions_kept", LongType),
      (cat0, args) => {
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val keep = args.getInt(1)
        require(keep >= 1, s"graft catalog: expire_snapshots wants keep >= 1, got $keep")
        val f = GraftSink.fs(p)
        val versions = GraftSink.listVersions(p)
        // named refs PROTECT their snapshots from expiry — a tag/branch
        // must stay readable until the ref itself is dropped
        val pinned = GraftSink.listRefs(p).map(_._3).toSet
        val cut = versions.drop(math.max(0, versions.size - keep)).headOption
          .getOrElse(Int.MaxValue)
        val (drop, kept) = versions.partition(v => v < cut && !pinned(v))
        // GC by entry NAME (a manifest line may carry a delete vector)
        val keptMs = kept.map(v => v -> GraftSink.readManifest(p, Some(v)).get)
        val keptFiles = keptMs.flatMap(_._2.entries).map(_.name).toSet
        val dropFiles = drop
          .flatMap(v => GraftSink.readManifest(p, Some(v)).get.entries)
          .map(_.name).toSet -- keptFiles
        dropFiles.foreach(df => f.delete(new HPath(p, df), false))
        drop.foreach(v => f.delete(new HPath(p, s"${GraftSink.MANIFEST}.v$v"), false))
        // DV-aware half: once expiry narrows history, a file whose
        // EVERY surviving reference carries the SAME delete vector can
        // be rewritten with those rows physically dropped — the dead
        // position list leaves the retained manifests (metadata
        // shrink) and every kept snapshot's VISIBLE rows are
        // byte-identical (the positions were invisible in all of them
        // anyway). A file referenced with DIFFERENT DVs (or none) in
        // some kept snapshot keeps its lists — that snapshot still
        // serves the un-deleted rows. The in-place snapshot rewrite is
        // legitimate exactly because it is a GC: version numbers, ts
        // stamps, and attribution are preserved and no visible row
        // changes in ANY surviving snapshot.
        val sigByName = scala.collection.mutable.Map
          .empty[String, scala.collection.mutable.Set[String]]
        keptMs.foreach { case (_, m) => m.entries.foreach { e =>
          sigByName.getOrElseUpdate(e.name, scala.collection.mutable.Set.empty) +=
            e.deletes.mkString(",")
        } }
        val rewritable: Seq[(String, Array[Long])] = sigByName.toSeq.collect {
          case (n, sigs) if sigs.size == 1 && sigs.head.nonEmpty =>
            n -> sigs.head.split(",").map(_.toLong)
        }
        if (rewritable.nonEmpty) {
          val sp = org.apache.spark.sql.SparkSession.active
          val tasks = rewritable.map { case (n, dels) =>
            (p, n, s"${n.stripSuffix(".tsv")}-dvless-" +
              s"${java.util.UUID.randomUUID().toString.take(8)}.tsv", dels)
          }
          // executor-side per-file stream (one task per file, the
          // remove_orphans economics): read once, skip the ascending
          // dv positions, write the clean twin. The twin is STAGED at a
          // task-attempt-unique name and renamed into the driver-chosen
          // final name — a speculative/zombie duplicate attempt writing
          // the shared destination directly could interleave bytes with
          // ours; with staging, both attempts produce identical twins
          // privately and whichever rename lands first wins (the loser
          // drops its temp), matching the normal write path's staging
          // discipline.
          val renames = sp.sparkContext
            .parallelize(tasks, math.min(tasks.size, 32))
            .map { case (root, n, fin, dels) =>
              val ffs = GraftSink.fs(root)
              val attempt = Option(org.apache.spark.TaskContext.get())
                .map(_.taskAttemptId().toString)
                .getOrElse(java.util.UUID.randomUUID().toString.take(8))
              val tmpName = s".$fin.attempt-$attempt.tmp"
              val in = new java.io.BufferedReader(new java.io.InputStreamReader(
                GraftSink.openIn(ffs, new org.apache.hadoop.fs.Path(root, n)),
                java.nio.charset.StandardCharsets.UTF_8))
              val out = GraftSink.createOut(ffs,
                new org.apache.hadoop.fs.Path(root, tmpName))
              try {
                var pos = 0L; var di = 0; var line = in.readLine()
                while (line != null) {
                  if (di < dels.length && dels(di) == pos) di += 1
                  else out.write((line + "\n").getBytes(
                    java.nio.charset.StandardCharsets.UTF_8))
                  pos += 1; line = in.readLine()
                }
              } finally { in.close(); out.close() }
              val tmpP = new org.apache.hadoop.fs.Path(root, tmpName)
              val finP = new org.apache.hadoop.fs.Path(root, fin)
              if (!ffs.rename(tmpP, finP)) {
                // lost the publish race to an identical duplicate
                // attempt: its bytes ARE ours (the transform is
                // deterministic) — keep the winner's file, drop the temp
                ffs.delete(tmpP, false)
                if (!ffs.exists(finP)) throw new java.io.IOException(
                  s"graft catalog: dvless rewrite failed to publish $fin")
              }
              n -> fin
            }.collect().toMap
          // swap the line in every kept manifest (atomic per snapshot
          // file), refresh the pointer copy, delete the originals LAST
          // so a racing reader always finds whichever twin its
          // manifest names
          keptMs.foreach { case (v, m) =>
            val newFiles = m.files.map { l =>
              val e = GraftSink.Entry.parse(l)
              renames.get(e.name).fold(l)(fin =>
                e.copy(name = fin, deletes = Nil, rows = e.live).line)
            }
            if (newFiles != m.files)
              GraftSink.rewriteManifestInPlace(p, v, m.copy(files = newFiles))
          }
          GraftSink.refreshPointerContent(p)
          renames.keys.foreach(n => f.delete(new HPath(p, n), false))
        }
        // manifest-GROUP GC: a `_mgroup.*` chunk is live iff some
        // surviving snapshot's RAW manifest still references it
        // (content addressing shares chunks across versions, so
        // per-version deletion would be wrong — liveness is the union);
        // everything else became unreachable when its versions dropped
        // (or when a dvless rewrite inlined its manifest) and deletes
        val liveGroups = GraftSink.listVersions(p).flatMap(v =>
          GraftSink.readManifestRaw(p, Some(v)).map(_.files
            .filter(GraftSink.isGroupLine).map(GraftSink.groupLineName))
            .getOrElse(Nil)).toSet
        f.listStatus(new HPath(p)).foreach { st =>
          val n = st.getPath.getName
          if (st.isFile && n.startsWith(GraftSink.GROUP_PREFIX) && !liveGroups(n))
            f.delete(st.getPath, false)
        }
        Array[Any](drop.size.toLong,
          (dropFiles.size + rewritable.size).toLong, kept.size.toLong)
      })),
    "set_partitioning" -> (cat => new GraftProcedure(cat, "set_partitioning",
      "set_partitioning(tbl, cols): evolve the table's IDENTITY partition spec (comma-joined columns; '' = unpartitioned) — a metadata-only versioned commit; existing files keep their old-spec tags and stay prunable per generation",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("cols", StringType).build()),
      new StructType().add("new_version", LongType)
        .add("old_spec", StringType).add("new_spec", StringType),
      (cat0, args) => {
        // PARTITION-SPEC EVOLUTION (Iceberg's spec-id model, flattened):
        // the spec is write-routing policy + a pruning index, never row
        // data — so evolving it rewrites NOTHING. Old files keep their
        // `part:` tags (pruning consults current ∪ history columns, so
        // both generations prune exactly); post-evolution writes route
        // through the new tuple router; the evolution itself lands as a
        // files-unchanged snapshot so the version chain records WHEN
        // the table's layout flipped. Partial overwrites and grouped
        // (SPJ) scans REFUSE over mixed generations until a rewrite
        // (CALL compact) retags — both would otherwise be wrong, not
        // slow. Incompatible transforms (bucket layouts either side)
        // refuse loudly: bucket tags encode a hash, not a value, and
        // silently reinterpreting them cannot be correct.
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val spec = args.getUTF8String(1).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(GraftSink.bucketSpecOf(p).isEmpty,
          "graft catalog: set_partitioning cannot evolve a BUCKET layout " +
            "(bucket tags are hashes; rewrite the table instead)")
        require(!spec.exists(_.contains("(")),
          "graft catalog: set_partitioning takes identity columns only " +
            "(bucket/transform specs are not evolvable)")
        require(spec.distinct.length == spec.length,
          "graft catalog: duplicate partition column")
        val m = GraftSink.mainHead(p).getOrElse(
          throw new IllegalArgumentException(s"graft catalog: no committed table at $p"))
        val schema = StructType.fromDDL(m.ddl)
        spec.foreach(c => require(schema.fieldNames.contains(c),
          s"graft catalog: unknown partition column '$c' " +
            s"(table has ${schema.fieldNames.mkString(", ")})"))
        val old = GraftSink.partitionColsOf(p)
        if (spec == old)
          Array[Any](GraftSink.versionOf(p, m)
              .getOrElse(GraftSink.listVersions(p).last).toLong,
            org.apache.spark.unsafe.types.UTF8String.fromString(old.mkString(",")),
            org.apache.spark.unsafe.types.UTF8String.fromString(spec.mkString(",")))
        else {
          // the evolution COMMIT first (files/ddl/ids unchanged — the
          // chain records the flip and concurrent commits serialize
          // against it), the props flip second: a racer between the
          // two still writes valid old-spec tags, which simply join
          // the history generation
          val v = GraftSink.commitManifest(p, None) { () =>
            val cur = GraftSink.mainHead(p).getOrElse(m)
            GraftSink.Manifest(cur.ddl, cur.files, cur.ids)
          }
          val hist = (GraftSink.partitionHistoryOf(p) ++ old)
            .distinct.filterNot(spec.contains)
          val next = GraftSink.readProps(p) --
            Seq(GraftSink.PARTITION_PROP, GraftSink.PARTITION_HISTORY_PROP) ++
            (if (spec.isEmpty) Map.empty
             else Map(GraftSink.PARTITION_PROP -> spec.mkString(","))) ++
            (if (hist.isEmpty) Map.empty
             else Map(GraftSink.PARTITION_HISTORY_PROP -> hist.mkString(",")))
          if (next.nonEmpty) GraftSink.writeProps(p, next)
          else GraftSink.fs(p).delete(new HPath(p, GraftSink.PROPS), false)
          Array[Any](v.toLong,
            org.apache.spark.unsafe.types.UTF8String.fromString(old.mkString(",")),
            org.apache.spark.unsafe.types.UTF8String.fromString(spec.mkString(",")))
        }
      })),
    "create_tag" -> (cat => new GraftProcedure(cat, "create_tag",
      "create_tag(tbl, name, version): pin an IMMUTABLE named ref to snapshot `version`",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("name", StringType).build(),
        ProcedureParameter.in("version", IntegerType).build()),
      new StructType().add("tag", StringType).add("version", LongType),
      (cat0, args) => {
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val name = args.getUTF8String(1).toString
        val v = args.getInt(2)
        GraftSink.readManifestRaw(p, Some(v)) // loud if the snapshot is gone
        require(GraftSink.readRef(p, "tag", name).isEmpty,
          s"graft catalog: tag '$name' already exists (tags are immutable)")
        GraftSink.writeRef(p, "tag", name, v)
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(name), v.toLong)
      })),
    "publish_branch" -> (cat => new GraftProcedure(cat, "publish_branch",
      "publish_branch(tbl, branch): fast-forward main to the branch head (write-audit-publish)",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("branch", StringType).build()),
      new StructType().add("published_version", LongType)
        .add("versions_total", LongType),
      (cat0, args) => {
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val b = args.getUTF8String(1).toString
        val head = GraftSink.readRef(p, "branch", b).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: no branch '$b' to publish"))
        val m = GraftSink.readManifest(p, Some(head)).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: branch '$b' head snapshot v$head has expired"))
        // fast-forward = REPUBLISH the branch head's content as a new
        // MAIN-attributed snapshot through the optimistic commit loop
        // (metadata-only — data files are shared, never copied). The
        // extra version is what keeps main-head resolution
        // CHAIN-DERIVED (GraftSink.mainHead): a pointer-copy publish
        // would leave main pointing at a branch-attributed snapshot,
        // reopening the claim-to-pointer-move race window the round-12
        // commit protocol closed.
        val v = GraftSink.writeManifest(p,
          GraftSink.Manifest(m.ddl, m.files, m.ids))
        Array[Any](v.toLong, GraftSink.listVersions(p).size.toLong)
      })),
    "drop_ref" -> (cat => new GraftProcedure(cat, "drop_ref",
      "drop_ref(tbl, name): delete a named branch or tag (snapshots stay)",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("name", StringType).build()),
      new StructType().add("dropped", LongType),
      (cat0, args) => {
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val name = args.getUTF8String(1).toString
        val n = Seq("branch", "tag").count(k => GraftSink.dropRef(p, k, name))
        require(n > 0, s"graft catalog: no branch or tag '$name' to drop")
        Array[Any](n.toLong)
      })),
    "rollback" -> (cat => new GraftProcedure(cat, "rollback",
      "rollback(tbl, version): republish snapshot `version` as a NEW version",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("version", IntegerType).build()),
      new StructType().add("restored_version", LongType).add("new_version", LongType),
      (cat0, args) => {
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val v = args.getInt(1)
        val m = GraftSink.readManifest(p, Some(v)).get // loud if missing
        Array[Any](v.toLong, GraftSink.writeManifest(p, m).toLong)
      })),
    "remove_orphans" -> (cat => new GraftProcedure(cat, "remove_orphans",
      "remove_orphans(tbl, older_than_min=10): delete data files referenced by NO snapshot plus staging leftovers older than the cutoff",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("older_than_min", IntegerType)
          .defaultValue("10").build()),
      new StructType().add("orphans_removed", LongType)
        .add("staging_removed", LongType).add("files_kept", LongType),
      (cat0, args) => {
        // The GC half aborted/crashed writes leave behind: a data file
        // is LIVE iff some snapshot's manifest names it (expire-proof:
        // pinned refs keep their snapshots, so their files stay named);
        // everything else in the table root that isn't `_`-internal is
        // an orphan; `_staging` subtrees and `.staged_<table>_*`
        // NAMESPACE-LEVEL siblings (a crashed-driver CTAS whose
        // abortStagedChanges never ran) are in-flight garbage ONCE NO
        // WRITE IS RUNNING — the `older_than_min` cutoff (Iceberg's
        // remove_orphan_files older_than contract, default 10 min) is
        // what keeps a concurrent write's staged-but-uncommitted files
        // out of the sweep; pass 0 only when provably quiescent.
        // Manifest-last publishing makes the data-file half safe
        // unconditionally: an orphan can never be reachable.
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val olderMin = args.getInt(1)
        require(olderMin >= 0,
          s"graft catalog: remove_orphans wants older_than_min >= 0, got $olderMin")
        // 0 = no guard (explicitly quiescent — tests, single-writer
        // maintenance windows); avoids ms-resolution races against
        // just-planted strays
        val cutoff = if (olderMin == 0) Long.MaxValue
                     else System.currentTimeMillis() - olderMin * 60000L
        val f = GraftSink.fs(p)
        val referenced = GraftSink.listVersions(p).flatMap(v =>
          GraftSink.readManifest(p, Some(v)).get.entries.map(_.name)).toSet
        val entries = f.listStatus(new HPath(p)).toSeq
        val names = entries.filter(e => e.isFile && e.getModificationTime < cutoff)
          .map(_.getPath.getName)
          .filterNot(_.startsWith("_")) // manifests/props/refs/stats are internal
        val (kept, orphans) = names.partition(referenced)
        orphans.foreach(n => f.delete(new HPath(p, n), false))
        // manifest-GROUP chunks are `_`-internal but GC-able: live iff
        // some snapshot's RAW manifest references them — a commit that
        // lost its claim race (or a dvless inline rewrite) leaves
        // unreferenced chunks behind, age-guarded like data orphans
        val liveGroups = GraftSink.listVersions(p).flatMap(v =>
          GraftSink.readManifestRaw(p, Some(v)).map(_.files
            .filter(GraftSink.isGroupLine).map(GraftSink.groupLineName))
            .getOrElse(Nil)).toSet
        val groupOrphans = entries.filter(e => e.isFile &&
            e.getModificationTime < cutoff &&
            e.getPath.getName.startsWith(GraftSink.GROUP_PREFIX) &&
            !liveGroups(e.getPath.getName))
          .map(_.getPath.getName)
        groupOrphans.foreach(n => f.delete(new HPath(p, n), false))
        var staged = 0L
        def sweepTree(dir: HPath): Unit =
          if (f.exists(dir) && f.getFileStatus(dir).getModificationTime < cutoff) {
            val it = f.listFiles(dir, true)
            while (it.hasNext) { it.next(); staged += 1 }
            f.delete(dir, true)
          }
        // the table's own staging tree, per write-id subdir (age-guarded
        // individually so a running write's fresh stage survives)
        val stagingDir = new HPath(p, GraftSink.STAGING)
        if (f.exists(stagingDir))
          f.listStatus(stagingDir).foreach(s => sweepTree(s.getPath))
        // abandoned CTAS/RTAS stages: hidden `.staged_<table>_<uuid>`
        // SIBLINGS of the table at the namespace level
        val parent = new HPath(p).getParent
        val tbl = new HPath(p).getName
        f.listStatus(parent).foreach { s =>
          if (s.isDirectory && s.getPath.getName.startsWith(s".staged_${tbl}_"))
            sweepTree(s.getPath)
        }
        Array[Any](orphans.size.toLong, staged, kept.size.toLong)
      })),
    "compact_bins" -> (cat => new GraftProcedure(cat, "compact_bins",
      "compact_bins(tbl, max_rows): bin-pack small files into ~max_rows outputs WITHIN each partition tuple",
      Array(ProcedureParameter.in("tbl", StringType).build(),
        ProcedureParameter.in("max_rows", IntegerType).build()),
      new StructType().add("files_before", LongType).add("files_after", LongType)
        .add("bins_rewritten", LongType),
      (cat0, args) => {
        // SIZE-AWARE compaction (Iceberg's binpack strategy, rows as the
        // size proxy the manifest already carries): within each
        // partition tuple, files sort by rows DESC and pack by the
        // floor(exclusive-cumsum / max_rows) rule — deterministic for
        // any tie order (equal-row swaps leave every cumsum unchanged),
        // so the bin COUNT is replayable outside the engine. Multi-file
        // bins rewrite through ONE connector read each (delete vectors
        // apply and vanish — compaction is also DV absorption); single-
        // file bins pass through untouched, keeping their DVs. Commits
        // as ONE new snapshot; `part:` tuples survive because bins
        // never cross them. At 1000-executor scale the per-bin jobs
        // run concurrently (Iceberg's rewrite groups); the driver loop
        // here is the local[32] rendering of the same plan.
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val maxRows = args.getInt(1)
        require(maxRows >= 1, s"graft catalog: compact_bins wants max_rows >= 1, got $maxRows")
        val m = GraftSink.readManifest(p).get
        val entries = m.entries
        entries.foreach(e => require(e.rows.isDefined,
          s"graft catalog: compact_bins needs rows: segments on every entry (missing on ${e.name})"))
        val sp = org.apache.spark.sql.SparkSession.active
        val schema = StructType.fromDDL(m.ddl)
        val ids = GraftSink.manifestIds(m)
        val groups = entries.groupBy(_.part)
        var untouched = Seq.empty[GraftSink.Entry]
        var rewritten = Seq.empty[GraftSink.Entry]
        var binsRewritten = 0L
        groups.toSeq.sortBy(_._1.toString).foreach { case (part, members) =>
          val ordered = members.sortBy(e => (-e.rows.get, e.name))
          var cum = 0L
          val binned = ordered.map { e =>
            val bin = cum / maxRows
            cum += e.rows.get
            (bin, e)
          }.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
          binned.foreach { bin =>
            if (bin.length == 1) untouched :+= bin.head
            else {
              val names = bin.map(_.name)
              val scratchRoot = graft.ops.Stage.fresh("compact_bins")
              val scratch = scratchRoot.toString + "/bin"
              import org.apache.spark.sql.functions.col
              sp.read.format("graftsink").option("path", p).load()
                .select((schema.fieldNames.map(col) :+ col("_file")).toIndexedSeq: _*)
                .filter(col("_file").isin(names: _*))
                .drop("_file")
                .coalesce(1)
                .write.format("graftsink").mode("overwrite")
                .option("path", scratch).save()
              val sm = GraftSink.readManifest(scratch).get
              require(sm.files.length == 1,
                s"graft catalog: compact_bins expected 1 staged file, got ${sm.files.length}")
              val f = GraftSink.fs(p)
              val fin = s"compact-bin-${java.util.UUID.randomUUID().toString.take(8)}.tsv"
              require(f.rename(
                new HPath(scratch, sm.entries.head.name),
                new HPath(p, fin)),
                s"graft catalog: compact_bins failed to publish $fin")
              // the bin file moved out — drop the scratch table's
              // leftover manifest/_staging NOW instead of holding one
              // tree per rewritten bin until JVM exit (long-lived
              // sessions compact repeatedly)
              graft.ops.Stage.release(scratchRoot)
              // the bin's DVs applied on read, so its rows are the
              // members' live rows; merged stats are the union envelopes
              rewritten :+= GraftSink.Entry(fin, Nil, GraftSink.Entry.statsUnion(bin),
                GraftSink.Entry.liveRows(bin), if (m.ids.isDefined) Some(ids) else None, part)
              binsRewritten += 1
            }
          }
        }
        GraftSink.writeManifest(p, GraftSink.Manifest(m.ddl,
          (untouched ++ rewritten).map(_.line), m.ids))
        Array[Any](m.files.size.toLong,
          (untouched.size + rewritten.size).toLong, binsRewritten)
      })),
    "analyze_table" -> (cat => new GraftProcedure(cat, "analyze_table",
      "analyze_table(tbl): compute per-column NDV/null-count for the CURRENT snapshot and store them for the planner",
      Array(ProcedureParameter.in("tbl", StringType).build()),
      new StructType().add("analyzed_version", LongType).add("n_cols", LongType)
        .add("n_rows", LongType),
      (cat0, args) => {
        // ANALYZE = ONE real Spark job over the connector (DV-aware by
        // construction: the read merges delete vectors), stats stamped
        // with the snapshot they describe — the scan serves them only
        // while that snapshot is current (GraftSinkScan). NDV here is
        // the EXACT count(distinct) — deterministic and oracle-
        // replayable; at 100 TB the same readout is fed by the repo's
        // mergeable sketches (q13 HLL / q245 KMV) instead, the Iceberg
        // puffin-sketch economics.
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val sp = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct, lit, sum, when}
        // resolve the head BEFORE the scan and stamp ITS version — not
        // listVersions.last, which a commit racing the analyze could
        // bump to a version whose data this job never saw (stamping the
        // pre-read head errs stale-early, never fresh-wrong)
        val head = GraftSink.mainHead(p).getOrElse(
          throw new IllegalArgumentException(s"graft catalog: no committed table at $p"))
        val df = sp.read.format("graftsink").option("path", p).load()
        val cols = df.schema.fieldNames.toSeq
        val aggs = cols.flatMap(c => Seq(
          countDistinct(col(c)).as(s"__ndv_$c"),
          coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nulls_$c")
        )) :+ count(lit(1)).as("__n_rows")
        val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        val stats = cols.map(c =>
          (c, row.getAs[Long](s"__ndv_$c"), row.getAs[Long](s"__nulls_$c")))
        val v = GraftSink.versionOf(p, head)
          .getOrElse(GraftSink.listVersions(p).last)
        GraftSink.writeColStats(p, v, stats)
        Array[Any](v.toLong, cols.length.toLong, row.getAs[Long]("__n_rows"))
      })),
    "analyze_sketch" -> (cat => new GraftProcedure(cat, "analyze_sketch",
      "analyze_sketch(tbl): approximate INCREMENTAL ANALYZE — per-column KMV(64) NDV + exact null counts, re-sketching only new/changed files",
      Array(ProcedureParameter.in("tbl", StringType).build()),
      new StructType().add("analyzed_version", LongType).add("n_cols", LongType)
        .add("n_rows", LongType).add("files_resketched", LongType),
      (cat0, args) => {
        // Sketch-backed INCREMENTAL ANALYZE (the Iceberg puffin-sketch
        // economics analyze_table's doc promises at 100 TB): per-column
        // NDV from the bottom-64 KMV of the portable md5 hash — q245's
        // mergeable sketch. Sketches are kept PER (file, column) in the
        // `_colsketch` sidecar, keyed by the file's delete-vector
        // signature: a re-analyze streams ONLY files that are new or
        // whose DV changed (through the scan's `files` subset option —
        // planning-level pruning, real incremental I/O) and MERGES with
        // the stored sketches. The bottom-k merge identity makes this
        // EXACT: every element of the global bottom-64 is in its own
        // file's bottom-64, so bottom-64(union of per-file bottom-64s)
        // equals bottom-64(all values) — the incremental estimate is
        // bit-identical to a full resketch, and the DuckDB oracle
        // replays it (md5 + row_number; <64 survivors → the exact
        // distinct count, at 64 → floor(63·2^60 / kth_min)). NULL rows
        // hash to the Long.MaxValue sentinel (real hashes are 60-bit —
        // dropped at merge); null/row counts per file are exact and
        // DV-aware (the subset read applies DVs like any scan).
        // Serving, staleness, and the pruned-scan refusal ride the
        // identical `_colstats` contract as analyze_table.
        val p = cat0.procTablePath(args.getUTF8String(0).toString)
        val sp = org.apache.spark.sql.SparkSession.active
        import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, sum, udaf, when}
        val m = GraftSink.mainHead(p).getOrElse(
          throw new IllegalArgumentException(s"graft catalog: no committed table at $p"))
        val cols = StructType.fromDDL(m.ddl).fieldNames.toSeq
        val sentinel = Long.MaxValue
        // current file states: name -> dv signature
        val current: Seq[(String, String)] =
          m.entries.map(e => e.name -> e.deletes.mkString(","))
        // stored sidecar: (file, dvsig) -> col -> (rows, nulls, sketch)
        val sidecar = new HPath(p, "_colsketch")
        val f = GraftSink.fs(p)
        val stored: Map[(String, String), Map[String, (Long, Long, Array[Long])]] =
          if (!f.exists(sidecar)) Map.empty
          else {
            val in = new java.io.BufferedReader(new java.io.InputStreamReader(
              GraftSink.openIn(f, sidecar), java.nio.charset.StandardCharsets.UTF_8))
            try Iterator.continually(in.readLine()).takeWhile(_ != null)
              .filter(_.nonEmpty).map { line =>
                val t = line.split("\t", -1)
                ((t(0), t(1)), t(2), (t(3).toLong, t(4).toLong,
                  t(5).split(",").filter(_.nonEmpty).map(_.toLong)))
              }.toSeq.groupBy(_._1)
              .map { case (k, vs) => k -> vs.map(x => x._2 -> x._3).toMap }
            finally in.close()
          }
        // a file is reusable iff its (name, dvsig) entry covers EVERY
        // current column (schema evolution resketches the file)
        val reusable = current.filter { case (n, sig) =>
          stored.get((n, sig)).exists(cm => cols.forall(cm.contains))
        }.toMap
        val resketch = current.collect { case (n, sig) if !reusable.contains(n) => (n, sig) }
        val fresh: Map[(String, String), Map[String, (Long, Long, Array[Long])]] =
          if (resketch.isEmpty) Map.empty
          else {
            val kmv = udaf(graft.functions.KmvAggregator,
              org.apache.spark.sql.Encoders.scalaLong)
            val df = sp.read.format("graftsink").option("path", p)
              .option("files", resketch.map(_._1).mkString(",")).load()
            val aggs = cols.flatMap(c => Seq(
              kmv(coalesce(
                expr(s"md5_mod(cast(`$c` as string), ${sentinel}L)"),
                lit(sentinel))).as(s"__sk_$c"),
              coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nulls_$c")
            )) :+ count(lit(1)).as("__n")
            val sigOf = resketch.toMap
            df.groupBy(col("_file").as("__f"))
              .agg(aggs.head, aggs.tail: _*)
              .collect().map { r =>
                val n = r.getAs[String]("__f")
                (n, sigOf(n)) -> cols.map { c =>
                  c -> ((r.getAs[Long]("__n"), r.getAs[Long](s"__nulls_$c"),
                    r.getAs[scala.collection.Seq[Long]](s"__sk_$c").toArray))
                }.toMap
              }.toMap
          }
        // a subset-planned scan returns no group for an all-deleted
        // file — record an empty sketch so the next analyze reuses it
        // instead of re-streaming
        val freshAll = resketch.map { case (n, sig) =>
          (n, sig) -> fresh.getOrElse((n, sig),
            cols.map(c => c -> ((0L, 0L, Array.empty[Long]))).toMap)
        }.toMap
        val perFile: Map[(String, String), Map[String, (Long, Long, Array[Long])]] =
          reusable.map { case (n, sig) => (n, sig) -> stored((n, sig)) } ++ freshAll
        // merge: bottom-64 of the per-file bottom-64 union (exact), Σ
        // nulls, Σ visible rows (any one column carries the row count)
        val stats = cols.map { c =>
          val parts = perFile.values.map(_(c)).toSeq
          val sk = parts.flatMap(_._3).filter(_ != sentinel)
            .distinct.sorted.take(64)
          val ndv =
            if (sk.length < 64) sk.length.toLong
            else math.floor(63.0 * 1152921504606846976.0 / sk(63).toDouble).toLong
          (c, ndv, parts.map(_._2).sum)
        }
        val nRows = perFile.values
          .map(fm => cols.headOption.fold(0L)(c => fm(c)._1)).sum
        // stamp the version of the mainHead snapshot the sketches were
        // built from — a commit (or branch slot) landing mid-analyze
        // must not mark these stats fresh at a version never scanned
        val v = GraftSink.versionOf(p, m)
          .getOrElse(GraftSink.listVersions(p).last)
        GraftSink.writeColStats(p, v, stats)
        // rewrite the sidecar for exactly the CURRENT files (entries of
        // rewritten/expired files drop out), atomically
        val body = perFile.toSeq.sortBy(_._1).flatMap { case ((n, sig), cm) =>
          cols.map { c =>
            val (rw, nl, sk) = cm(c)
            s"$n\t$sig\t$c\t$rw\t$nl\t${sk.mkString(",")}"
          }
        }.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
        GraftSink.atomicOverwrite(f, sidecar, body)
        Array[Any](v.toLong, cols.length.toLong, nRows, resketch.size.toLong)
      })))

  /** V2 UnboundFunctions over the repo's native kernels. Each bound
    * function carries a magic `invoke` whose parameter types match its
    * declared inputTypes exactly (UTF8String for STRING, long for
    * BIGINT), so Catalyst compiles the call to a direct Invoke — same
    * per-row cost as the session-registered Catalyst expressions, no
    * InternalRow boxing (produceResult stays as the documented
    * fallback only).
    */
  val functions: Map[String, UnboundFunction] = Map(
    "md5_mod" -> unbound("md5_mod",
      "md5_mod(s, m): (first 15 hex chars of md5(s) as base-16 int) % m",
      Md5ModBound),
    "jaro_winkler" -> unbound("jaro_winkler",
      "jaro_winkler(a, b): Jaro-Winkler similarity in [0, 1]",
      JaroWinklerBound),
    "bucket" -> BucketUnbound)

  /** The `bucket(n, col)` PARTITION TRANSFORM as a catalog function —
    * what lets Spark resolve a grouped bucket scan's reported
    * KeyGroupedPartitioning into a TransformExpression and verify that
    * BOTH sides of a join hash through the same kernel (canonicalName
    * equality + bucket-count equality), the gate for a zero-exchange
    * storage-partitioned join on bucketed sink tables. The kernel is
    * the repo's portable md5_mod chain — the exact function the write
    * path routes files with (GraftSink.bucketIdOf), so the reported
    * partition ids, the file tags, and this function agree bit for
    * bit. Column type is echoed from the bind site (the transform is
    * declared over STRING and BIGINT columns alike). */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, col): portable md5_mod(canonical-string(col)) % n bucket id"
    override def bind(inputType: StructType): BoundFunction = {
      if (inputType.fields.length != 2)
        throw new UnsupportedOperationException(
          s"bucket expects (numBuckets, col), got ${inputType.fields.length} arguments")
      new BucketBound(inputType.fields.map(_.dataType))
    }
  }

  class BucketBound(types: Array[DataType]) extends ScalarFunction[java.lang.Integer] {
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def inputTypes(): Array[DataType] = types
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = true
    /** NULL in → NULL out (the write path routes nulls to the
      * dedicated `\N` bucket; the grouped scan reports that tuple's
      * key as null — same contract). */
    override def produceResult(input: InternalRow): java.lang.Integer = {
      if (input.isNullAt(0) || input.isNullAt(1)) return null
      val n = types(0) match {
        case LongType => input.getLong(0)
        case _ => input.getInt(0).toLong
      }
      val v: Any = types(1) match {
        case LongType => input.getLong(1)
        case IntegerType => input.getInt(1)
        case _ => input.getUTF8String(1)
      }
      java.lang.Integer.valueOf(GraftSink.bucketIdOf(v, n.toInt).toInt)
    }
  }

  private def unbound(fname: String, desc: String, bound: BoundFunction): UnboundFunction =
    new UnboundFunction {
      override def name(): String = fname
      override def description(): String = desc
      override def bind(inputType: StructType): BoundFunction = {
        val want = bound.inputTypes().length
        if (inputType.fields.length != want)
          throw new UnsupportedOperationException(
            s"$fname expects $want arguments, got ${inputType.fields.length}")
        bound
      }
    }

  object Md5ModBound extends ScalarFunction[java.lang.Long] {
    override def name(): String = "md5_mod"
    override def canonicalName(): String = "graft.fns.md5_mod"
    override def inputTypes(): Array[DataType] = Array(StringType, LongType)
    override def resultType(): DataType = LongType
    override def isResultNullable: Boolean = true
    /** Magic method — Catalyst emits Invoke(this, "invoke", ...). The
      * V2 Invoke path does NOT null-propagate reference args (the
      * function owns its null contract), so the null checks live here:
      * NULL in → NULL out, m = 0 → NULL — matching the Md5Mod
      * expression bit for bit. */
    def invoke(s: UTF8String, m: Long): java.lang.Long =
      if (s == null || m == 0L) null
      else java.lang.Long.valueOf(graft.functions.Md5Mod.hash(s.getBytes, m))
    override def produceResult(input: InternalRow): java.lang.Long =
      if (input.isNullAt(0) || input.isNullAt(1)) null
      else invoke(input.getUTF8String(0), input.getLong(1))
  }

  /** One procedure = unbound + bound in one class (binding is a no-op:
    * parameters are declared statically; Spark coerces arguments to the
    * declared types). `call` runs the body and serves the single audit
    * row through a LocalScan — the CALL statement's result set. */
  class GraftProcedure(cat: GraftCatalog, procName: String, desc: String,
      params: Array[ProcedureParameter], outSchema: StructType,
      body: (GraftCatalog, InternalRow) => Array[Any])
    extends UnboundProcedure with BoundProcedure {

    override def name(): String = procName
    override def description(): String = desc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // mutates table state

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val vals = body(cat, input)
      val scan: Scan = new LocalScan {
        override def readSchema(): StructType = outSchema
        override def rows(): Array[InternalRow] =
          Array(new GenericInternalRow(vals))
        override def description(): String = s"GraftProcedureResult($procName)"
      }
      java.util.List.of(scan).iterator()
    }
  }

  /** A read-only metadata relation over one table's manifests — the
    * audit surface (`t.files` / `t.snapshots` / `t.refs`) an operator
    * queries before compaction, expiry, or a publish. Served through a
    * LocalScan: the manifest IS driver-side metadata (Iceberg's
    * metadata tables are the same planning-time read), and every
    * column is derived, never data. */
  class GraftMetadataTable(path: String, kind: String)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {

    import org.apache.spark.sql.connector.catalog.TableCapability

    override def name(): String = s"graftsink($path).$kind"

    override def schema(): StructType = kind match {
      case "files" => new StructType()
        .add("file", StringType).add("rows", LongType)
        .add("live_rows", LongType).add("dv_positions", LongType)
        .add("part", StringType).add("stats", StringType).add("cols", StringType)
      case "snapshots" => new StructType()
        .add("version", LongType).add("committed_at_ms", LongType)
        .add("n_files", LongType).add("n_live_rows", LongType)
        .add("ddl", StringType)
      case "column_stats" => new StructType()
        .add("col_name", StringType).add("ndv", LongType).add("nulls", LongType)
        .add("stats_version", LongType).add("stale", org.apache.spark.sql.types.BooleanType)
      case _ => new StructType()
        .add("kind", StringType).add("name", StringType).add("version", LongType)
    }

    override def capabilities(): java.util.Set[TableCapability] =
      java.util.Set.of(TableCapability.BATCH_READ)

    private def utf(s: String): UTF8String = UTF8String.fromString(s)

    private def rows(): Array[InternalRow] = kind match {
      case "files" =>
        val m = GraftSink.readManifest(path).getOrElse(
          throw new IllegalArgumentException(s"graft catalog: no table at $path"))
        m.entries.map { e =>
          new GenericInternalRow(Array[Any](
            utf(e.name),
            e.rows.map(Long.box).orNull,
            e.live.map(Long.box).orNull,
            e.deletes.length.toLong,
            e.part.map(utf).orNull,
            e.stats.headOption
              .map { case (c, lo, hi) => utf(s"$c=$lo..$hi") }.orNull,
            e.cols.map(cs => utf(cs.mkString(","))).orNull
          )): InternalRow
        }.toArray
      case "snapshots" =>
        GraftSink.listVersions(path).map { v =>
          val m = GraftSink.readManifest(path, Some(v)).get
          val live = GraftSink.Entry.liveRows(m.entries).map(Long.box).orNull
          new GenericInternalRow(Array[Any](
            v.toLong, m.ts.map(Long.box).orNull,
            m.files.size.toLong, live, utf(m.ddl))): InternalRow
        }.toArray
      case "column_stats" =>
        // ANALYZE output + its freshness: `stale` compares the stats'
        // stamped snapshot with the table's current one — the audit a
        // user runs before trusting (or re-running) analyze_table.
        val current = GraftSink.listVersions(path).lastOption.getOrElse(-1)
        GraftSink.readColStats(path).fold(Array.empty[InternalRow]) {
          case (v, stats) => stats.map { case (c, ndv, nulls) =>
            new GenericInternalRow(Array[Any](
              utf(c), ndv, nulls, v.toLong, v != current)): InternalRow
          }.toArray
        }
      case _ =>
        GraftSink.listRefs(path).map { case (k, n, v) =>
          new GenericInternalRow(Array[Any](utf(k), utf(n), v.toLong)): InternalRow
        }.toArray
    }

    override def newScanBuilder(options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
      new org.apache.spark.sql.connector.read.ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def readSchema(): StructType = schema()
          override def rows(): Array[InternalRow] = GraftMetadataTable.this.rows()
          override def description(): String = name()
        }
      }
  }

  object JaroWinklerBound extends ScalarFunction[java.lang.Double] {
    override def name(): String = "jaro_winkler"
    override def canonicalName(): String = "graft.fns.jaro_winkler"
    override def inputTypes(): Array[DataType] = Array(StringType, StringType)
    override def resultType(): DataType = DoubleType
    override def isResultNullable: Boolean = true
    def invoke(a: UTF8String, b: UTF8String): java.lang.Double =
      if (a == null || b == null) null
      else java.lang.Double.valueOf(graft.functions.JaroWinkler.sim(a.getBytes, b.getBytes))
    override def produceResult(input: InternalRow): java.lang.Double =
      if (input.isNullAt(0) || input.isNullAt(1)) null
      else invoke(input.getUTF8String(0), input.getUTF8String(1))
  }
}
