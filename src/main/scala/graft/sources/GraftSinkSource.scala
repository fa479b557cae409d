package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => VSortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Write-side DataSource V2 connector (`df.write.format("graftsink")`):
  * a path-backed staged-commit table — the WRITE surface is the point
  * (WriteBuilder → BatchWrite → DataWriterFactory → DataWriter →
  * task-commit → driver-commit), the exact two-phase shape every
  * exactly-once distributed sink uses:
  *
  *  - **task side**: each DataWriter streams its partition's rows into
  *    `_staging/<queryId>/part-<pid>-<taskId>.tsv` (Hadoop FileSystem
  *    API, so the same code addresses HDFS/S3A on a real cluster) and
  *    returns the staged file + row count as its commit message. Tasks
  *    never write into the visible table — a failed/speculated task
  *    leaves only staging garbage, never a torn table. Spark's commit
  *    coordinator guarantees one committed task per partition.
  *  - **driver side**: every commit — unpartitioned, partitioned and
  *    delta (merge-on-read) batch writes, and the streaming write —
  *    runs ONE staged-commit skeleton ([[StagedCommit]]): publish
  *    (rename the committed tasks' staged files into the table root,
  *    once), then the manifest (schema DDL line + one committed file
  *    per line) through the optimistic-commit loop with one guarded
  *    append/replace plan, then drop the staging tree (`abort` drops it
  *    too). Readers resolve the file list ONLY through the manifest, so
  *    a crash between renames publishes nothing — readers see the
  *    previous table version (manifest-last = the atomic-publish idiom
  *    used by every table format). Each surface adds only its own
  *    step: branch heads and stats entries (unpartitioned), REPLACE
  *    WHERE and dynamic-overwrite survivors (partitioned), the
  *    delete-vector fold (delta), epoch-replay detection (streaming).
  *  - **truncate**: `.mode("overwrite")` routes through
  *    SupportsTruncate; the plan then REPLACES the manifest, refusing
  *    if the base moved since it was planned. Append mode merges,
  *    requiring the incoming schema to match the published DDL.
  *    Replaced data files stay on disk — older snapshots reference them
  *    (see time travel); a real format GCs them by snapshot-expiry
  *    policy.
  *  - **time travel**: every commit publishes an IMMUTABLE
  *    `_manifest.vN` before updating the `_manifest` latest-pointer,
  *    so `option("version", N)` reads snapshot N exactly as committed
  *    (schema AND file list) — the Iceberg/Delta snapshot-isolation
  *    read surface (q351; DsV2Spec pins stale-snapshot reads after
  *    overwrite, loud missing-version failure, and the write-through-
  *    pinned-version refusal).
  *  - **read-back**: BATCH_READ serves the manifest's files one
  *    InputPartition each (split-per-file scan parallelism), with
  *    SupportsPushDownRequiredColumns — the TSV reader parses ONLY the
  *    pruned columns' fields.
  *
  * Row encoding: one TSV line per row; `\`-escaped tab/newline/
  * backslash, `\N` for NULL. Supported column types: BIGINT, INT,
  * DOUBLE, STRING (doubles via Java round-trip formatting, so
  * read-back is bit-exact). Option: `path` (required).
  */
class GraftSinkProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftsink"

  override def supportsExternalMetadata(): Boolean = true

  /** The effective snapshot pin: explicit `version`, or a named `ref`
    * (branch/tag) resolved to its version. Mutually exclusive. */
  private def pinOf(props: JMap[String, String], path: String): Option[Int] = {
    val version = GraftSink.versionOf(props)
    val ref = GraftSink.refOf(props)
    require(version.isEmpty || ref.isEmpty,
      "graftsink: options 'version' and 'ref' are mutually exclusive")
    version.orElse(ref.map(GraftSink.resolveRef(path, _)))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val props = options.asCaseSensitiveMap()
    val path = GraftSink.pathOf(props)
    val version = pinOf(props, path)
    val changes = GraftSink.changesOf(props, path)
    require(version.isEmpty || changes.isEmpty,
      "graftsink: a snapshot pin ('version'/'ref') and 'changesFrom' are mutually exclusive")
    // changelog mode reads rows through the RANGE-END snapshot's schema
    // (older files pad missing columns NULL, exactly like a plain read)
    val pin = changes.fold(version) { case (_, to) => to }
    val base = GraftSink.readManifestRaw(path, pin) // head-only: ddl
      .map(m => StructType.fromDDL(m.ddl))
      .getOrElse(throw new IllegalArgumentException(
        s"graftsink: no committed table at $path (missing ${GraftSink.MANIFEST})"))
    changes.fold(base)(_ => GraftSink.changeSchema(base))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    require(partitioning.isEmpty,
      "graftsink: partitioning is not supported on the path-based write " +
        "(use the 'clusterBy' write option for clustered files)")
    val path = GraftSink.pathOf(properties)
    new GraftSinkTable(path, schema,
      pinOf(properties, path), GraftSink.changesOf(properties, path))
  }
}

object GraftSink {
  val MANIFEST = "_manifest"
  val STAGING = "_staging"
  val PROPS = "_props"
  val COLSTATS = "_colstats"
  /** Manifest GROUP files (the two-level metadata tree): an immutable,
    * CONTENT-ADDRESSED chunk of manifest entry lines named
    * `_mgroup.<md5 of body>`. A large snapshot's `_manifest.vN` body
    * holds `group:` reference lines (each with a partition-values /
    * stats SUMMARY) instead of the flat entry list, so PLANNING a
    * pruned query reads only the groups whose summary can match — at
    * millions of files the flat list is the driver bottleneck Iceberg's
    * manifest tree exists to remove. Content addressing makes group
    * writes idempotent and lets consecutive snapshots SHARE unchanged
    * chunks; expire/remove_orphans GC groups no raw manifest names. */
  val GROUP_PREFIX = "_mgroup."

  /** One manifest FILE ENTRY: the single codec of the stored line.
    * The line is `name` plus optional tab-separated segments, rendered
    * in this order (a bare name is a legacy entry with none):
    *  - `dv:p1,p2,...` — the DELETE VECTOR: ascending, distinct row
    *    positions suppressed on read (merge-on-read: row-level
    *    DELETE/UPDATE records positions instead of rewriting files);
    *  - `stats:col=lo..hi`, one per column — the [min, max] of a BIGINT
    *    column across the file's rows (clustered writes record them; a
    *    Z-ordered file carries one per interleaved dimension): the
    *    FILE-SKIPPING index, so a pushed range predicate on ANY recorded
    *    column prunes whole files at planning;
    *  - `rows:n` — the ORIGINAL row count (every commit records it): the
    *    metadata-count index, so a global count(*) is Σ [[live]] with
    *    zero data reads;
    *  - `cols:i1,i2,...` — the FIELD IDS the file's TSV ordinals hold,
    *    in order. Absent = positional (ordinal j holds id j+1), exact for
    *    any table that never renamed or dropped a column; every commit
    *    writes it once the table has explicit ids;
    *  - `part:col=enc(,col=enc)*` — the PARTITION TUPLE every row shares,
    *    values URL-encoded (NULL = the unencodable marker `\N`): the
    *    directory-grain pruning index for equality/IN predicates.
    * Appends carry prior lines through unchanged and every rewrite is a
    * `copy`, so no segment is lost on the way. Deleting rows never widens
    * a min/max, so stats stay conservative under DVs, and `rows` stays
    * original, so counts stay exact under them. */
  final case class Entry(name: String, deletes: Seq[Long] = Nil,
      stats: Seq[(String, Long, Long)] = Nil, rows: Option[Long] = None,
      cols: Option[Seq[Int]] = None, part: Option[String] = None) {

    def line: String = {
      val b = new StringBuilder(name)
      if (deletes.nonEmpty) b ++= deletes.sorted.distinct.mkString("\tdv:", ",", "")
      stats.foreach(t => b ++= "\t" + Entry.statsSegment(t))
      rows.foreach(n => b ++= s"\trows:$n")
      cols.foreach(ids => b ++= ids.mkString("\tcols:", ",", ""))
      part.foreach(p => b ++= s"\tpart:$p")
      b.result()
    }

    /** The VISIBLE row count: original rows minus the delete vector. */
    def live: Option[Long] = rows.map(_ - deletes.length)

    /** The entry after a COLUMN RENAME: `part:` tuple keys (identity and
      * `bucket(col)` forms) and `stats:` names matching `from` flip to
      * `to`. Metadata-only: the data file never changes (its values are
      * positional), and OLD snapshots keep the old keys, so time travel
      * serves the pre-rename world verbatim. */
    def renamed(from: String, to: String): Entry = {
      def key(k: String): String =
        if (k == from) to else if (k == bucketKey(from)) bucketKey(to) else k
      copy(
        stats = stats.map { case (c, lo, hi) => (if (c == from) to else c, lo, hi) },
        part = part.map(_.split(",").map { kv =>
          val i = kv.indexOf('=')
          if (i < 0) kv else key(kv.substring(0, i)) + kv.substring(i)
        }.mkString(",")))
    }
  }

  object Entry {
    /** Split `line` once into its fields (the first segment of each
      * single-valued kind wins; every `stats:` segment is kept). */
    def parse(line: String): Entry = {
      val segs = line.split('\t')
      def first(tag: String): Option[String] =
        segs.iterator.drop(1).find(_.startsWith(tag)).map(_.substring(tag.length))
      def list(body: String): Array[String] = body.split(',').filter(_.nonEmpty)
      Entry(segs(0),
        first("dv:").fold(Seq.empty[Long])(b => ArraySeq.unsafeWrapArray(list(b).map(_.toLong))),
        statsIn(segs),
        first("rows:").map(_.toLong),
        first("cols:").map(b => ArraySeq.unsafeWrapArray(list(b).map(_.toInt))),
        first("part:"))
    }

    /** The `stats:` envelopes of ANY manifest line — an entry, or a
      * `group:` summary line, whose envelopes share this grammar. */
    def statsOf(line: String): Seq[(String, Long, Long)] = statsIn(line.split('\t'))

    private def statsIn(segs: Array[String]): Seq[(String, Long, Long)] =
      segs.iterator.drop(1).filter(_.startsWith("stats:")).map { s =>
        val eq = s.indexOf('=')
        val dd = s.indexOf("..", eq)
        (s.substring(6, eq), s.substring(eq + 1, dd).toLong, s.substring(dd + 2).toLong)
      }.toSeq

    def statsSegment(t: (String, Long, Long)): String = s"stats:${t._1}=${t._2}..${t._3}"

    /** Σ [[Entry.live]]: the exact visible-row count of `es`, absent when
      * some entry predates `rows:` segments. */
    def liveRows(es: Seq[Entry]): Option[Long] =
      es.foldLeft(Option(0L))((acc, e) => for (a <- acc; n <- e.live) yield a + n)

    /** Per column, the union [min, max] of `es`'s envelopes, kept only
      * for the columns EVERY entry records (an entry without stats
      * could widen the true range), sorted by column. */
    def statsUnion(es: Seq[Entry]): Seq[(String, Long, Long)] =
      if (es.isEmpty) Nil
      else {
        val perCol = es.map(_.stats.groupBy(_._1))
        perCol.map(_.keySet).reduce(_ intersect _).toSeq.sorted.map { c =>
          val all = perCol.flatMap(_(c))
          (c, all.map(_._2).min, all.map(_._3).max)
        }
      }
  }

  def encodePartValue(v: Any): String =
    if (v == null) "\\N"
    else java.net.URLEncoder.encode(v.toString, "UTF-8")

  /** Parse a `part:` body into col → encoded-value. */
  def partPairs(body: String): Map[String, String] =
    body.split(",").filter(_.contains('=')).map { kv =>
      val i = kv.indexOf('=')
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap

  /** Decode an encoded partition value back to its CATALYST value (the
    * HasPartitionKey currency for storage-partitioned joins). */
  def decodePartValue(dt: DataType, enc: String): Any =
    if (enc == "\\N") null
    else {
      val raw = java.net.URLDecoder.decode(enc, "UTF-8")
      dt match {
        case LongType => raw.toLong
        case IntegerType => raw.toInt
        case _ => UTF8String.fromString(raw)
      }
    }

  // --- two-level manifest metadata (group files) ----------------------

  /** Durable `write.*` prop: group the manifest body once a snapshot's
    * entry count reaches this size (default 512 — far above any test
    * table, squarely below a 100 TB table's file count). */
  val GROUP_SIZE_PROP = "write.manifest.group.size"

  private def groupSize(path: String): Int =
    readProps(path).get(GROUP_SIZE_PROP).map(_.toInt).getOrElse(512)

  /** Spec/diagnostic hook: group files READ so far in this JVM (scan
    * planning increments once per group body read — the number a
    * pruned plan is graded on). */
  val groupReads = new java.util.concurrent.atomic.AtomicLong(0L)

  def isGroupLine(line: String): Boolean = line.startsWith("group:")

  def groupLineName(line: String): String =
    line.takeWhile(_ != '\t').stripPrefix("group:")

  /** The group's exact VISIBLE row total (Σ(rows − |dv|) over its
    * members, recorded at chunk-write time) — absent when some member
    * predates `rows:` segments. */
  def groupVisibleRows(line: String): Option[Long] =
    line.split("\t").drop(1).find(_.startsWith("vrows:"))
      .map(_.stripPrefix("vrows:").toLong)

  /** The group line's per-column DISTINCT partition-value sets
    * (`pvals:` segments — URL-encoding makes '|' a safe separator). A
    * column appears ONLY if every member file carries a tag for it, so
    * group-level pruning is exactly as conservative as the per-entry
    * rule it summarizes (a member without the tag would survive). */
  def groupPartVals(line: String): Map[String, Set[String]] =
    line.split("\t").drop(1).filter(_.startsWith("pvals:")).map { s =>
      val body = s.stripPrefix("pvals:")
      val i = body.indexOf('=')
      body.substring(0, i) -> body.substring(i + 1).split("\\|").toSet
    }.toMap

  private def md5hex(body: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(body)
      .map("%02x".format(_)).mkString

  /** One group's summary line: member count, total rows (when every
    * member records one), per-column partition-value sets (≤16 distinct
    * — beyond that the summary can't prune meaningfully), and union
    * stats envelopes for columns EVERY member has stats on. Both
    * summaries are strictly conservative supersets of what the member
    * entries allow, so pruning a whole group can never drop a file the
    * per-entry rule would keep. */
  private def groupSummary(name: String, members: Seq[Entry]): String = {
    val files = s"\tfiles:${members.size}"
    // vrows = Σ(rows − |dv|), exact because a chunk is immutable: any
    // DV change regroups its manifest and recomputes the summary —
    // what lets count(*) stay metadata-only WITHOUT opening chunks
    val rows = Entry.liveRows(members)
      .fold("")(v => s"\trows:${members.flatMap(_.rows).sum}\tvrows:$v")
    val parts = members.map(_.part.map(partPairs).getOrElse(Map.empty[String, String]))
    val common =
      if (parts.isEmpty) Set.empty[String]
      else parts.map(_.keySet).reduce(_ intersect _)
    val pv = common.toSeq.sorted.flatMap { c =>
      val vs = parts.map(_(c)).distinct
      if (vs.size <= 16) Some(s"\tpvals:$c=${vs.sorted.mkString("|")}") else None
    }.mkString
    val st = Entry.statsUnion(members).map("\t" + Entry.statsSegment(_)).mkString
    s"group:$name$files$rows$pv$st"
  }

  /** Group a to-be-committed manifest's entries into content-addressed
    * chunk files when the snapshot is large enough: entries sort by
    * (partition tuple, name) so same-partition files cluster (the
    * partition-range grouping that makes summaries selective), chunks
    * of `write.manifest.group.size` write as `_mgroup.<md5>` (idempotent
    * — an unchanged chunk from the previous snapshot has the same name
    * and is NOT rewritten), and the body keeps one summary line per
    * group. Below the threshold the manifest stays flat — identical
    * bytes to every pre-grouping snapshot. */
  private def maybeGroup(path: String, f: FileSystem, m: Manifest): Manifest = {
    val size = groupSize(path)
    if (m.files.size < math.max(2, size) || m.files.exists(isGroupLine)) m
    else {
      val sorted = m.files.map(l => (l, Entry.parse(l)))
        .sortBy { case (_, e) => (e.part.getOrElse(""), e.name) }
      val lines = sorted.grouped(size).map { chunk =>
        val body = chunk.map(_._1).mkString("\n").getBytes(StandardCharsets.UTF_8)
        val name = GROUP_PREFIX + md5hex(body)
        val gp = new HPath(path, name)
        if (!f.exists(gp)) atomicOverwrite(f, gp, body)
        groupSummary(name, chunk.map(_._2))
      }.toSeq
      m.copy(files = lines)
    }
  }

  /** Read one group file's entry lines (loud on a missing group — that
    * means metadata corruption or an over-eager GC, never a valid
    * state). Increments [[groupReads]]. */
  def readGroup(path: String, name: String): Seq[String] = {
    groupReads.incrementAndGet()
    val f = fs(path)
    val gp = new HPath(path, name)
    require(f.exists(gp),
      s"graftsink: missing manifest group $name at $path (corrupt metadata or over-eager GC)")
    val in = new BufferedReader(new InputStreamReader(openIn(f, gp), StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).toVector
    finally in.close()
  }

  /** Expand a raw manifest's `group:` references into their entry
    * lines (order-preserving). Flat manifests pass through untouched. */
  private def expandGroups(path: String, m: Manifest): Manifest =
    if (!m.files.exists(isGroupLine)) m
    else m.copy(files = m.files.flatMap(l =>
      if (isGroupLine(l)) readGroup(path, groupLineName(l)) else Seq(l)))

  /** Durable table-property key holding the identity partition columns
    * (comma-joined, in declaration order). */
  val PARTITION_PROP = "partition.columns"

  def partitionColsOf(path: String): Seq[String] =
    readProps(path).get(PARTITION_PROP)
      .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Durable prop recording every identity column that belonged to a
    * PAST partition generation (set_partitioning appends the outgoing
    * spec's columns — Iceberg's spec-id lineage flattened to the one
    * fact pruning needs). The planner's prune-key set is
    * current ∪ history: files written under an old spec keep their
    * `part:` tags and stay EXACTLY prunable by their own columns,
    * while new-spec predicates simply pass them through (a file with
    * no tag for the pruned column always survives). */
  val PARTITION_HISTORY_PROP = "partition.columns.history"

  def partitionHistoryOf(path: String): Seq[String] =
    readProps(path).get(PARTITION_HISTORY_PROP)
      .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Durable table-property key for a BUCKET partition transform
    * (`PARTITIONED BY (bucket(n, col))`), stored as `col:n`. Mutually
    * exclusive with identity partitioning. */
  val BUCKETS_PROP = "partition.buckets"

  def bucketSpecOf(path: String): Option[(String, Int)] =
    readProps(path).get(BUCKETS_PROP).map { raw =>
      val i = raw.lastIndexOf(':')
      (raw.substring(0, i), raw.substring(i + 1).toInt)
    }

  /** The file-routing key of a bucketed row: the PORTABLE 60-bit md5
    * hash of the value's canonical string, mod n — the same chain the
    * repo's md5_mod kernel and every DuckDB oracle replays
    * (`CAST('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15) AS BIGINT)
    * % n`), so bucket placement is verifiable OUTSIDE the engine.
    * NULLs route to the dedicated `\N` bucket, never hashed. */
  def bucketIdOf(v: Any, n: Int): String =
    if (v == null) "\\N"
    else graft.functions.Md5Mod.hash(
      v.toString.getBytes(StandardCharsets.UTF_8), n.toLong).toString

  /** The manifest `part:` key a bucketed file is tagged with. */
  def bucketKey(col: String): String = s"bucket($col)"

  /** Sentinel ordinal for "this file never carried the column" (reader
    * serves NULL — any ordinal past the physical line length does). */
  val MISSING_ORDINAL: Int = Int.MaxValue

  /** The manifest's data-column FIELD IDS, aligned with its DDL fields
    * (positional 1..n until a rename/drop migrated explicit ids in). */
  def manifestIds(m: Manifest): Seq[Int] =
    m.ids.getOrElse(1 to StructType.fromDDL(m.ddl).length)

  /** The connector-served row-id columns (the merge-on-read delete
    * surface) and their negative field-id sentinels. */
  val ROW_ID_SENTINELS: Map[String, Int] = Map("_file" -> -1, "_pos" -> -2)

  /** For each REQUIRED column: its stable FIELD ID (`tableIds` is
    * aligned with `data`), or the negative sentinel `served` gives a
    * connector-served column. DATA columns win over the sentinels
    * (matching Spark's metadataOutput conflict rule) — checkSchema
    * rejects the reserved names for new tables, but a pre-restriction
    * table may legitimately carry them. Per-file ordinals resolve at
    * planning ([[fileOrdinals]]). */
  def requiredIds(required: StructType, data: StructType, tableIds: Seq[Int],
      served: Map[String, Int]): Array[Int] =
    required.fieldNames.map { n =>
      val j = data.fieldNames.indexOf(n)
      if (j >= 0) tableIds(j)
      else served.getOrElse(n,
        throw new IllegalArgumentException(s"graftsink: unknown column '$n'"))
    }

  /** Resolve requested field ids to TSV ordinals for ONE file:
    * negative sentinels pass through (connector-served columns);
    * explicit `cols:` files map id → position; implicit files are
    * positional (ordinal = id − 1); an id the file never carried maps
    * to [[MISSING_ORDINAL]] (NULL back-fill — the column was added,
    * renamed around, or the file predates it). */
  def fileOrdinals(reqIds: Array[Int], fileCols: Option[Seq[Int]]): Array[Int] =
    reqIds.map {
      case s if s < 0 => s
      case id => fileCols match {
        case Some(cols) =>
          val j = cols.indexOf(id)
          if (j < 0) MISSING_ORDINAL else j
        case None => id - 1
      }
    }

  def pathOf(properties: JMap[String, String]): String =
    Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("graftsink requires option 'path'"))

  /** Optional `version` read option (time travel): the snapshot number
    * to read, 1-based in commit order. Absent = latest. */
  def versionOf(properties: JMap[String, String]): Option[Int] =
    Option(properties.get("version")).map { raw =>
      val v = try raw.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graftsink: option 'version' must be an int, got '$raw'")
      }
      require(v >= 1, s"graftsink: option 'version' must be >= 1, got $v")
      v
    }

  // --- changelog (incremental version-range) read ----------------------

  /** The change-feed's two extra columns: what happened to the row
    * (`insert` when its file entered a snapshot, `delete` when its file
    * left one or a delete vector claimed its position) and at which
    * commit. */
  val CHANGE_COL = "_change"
  val CHANGE_VERSION_COL = "_commit_version"

  def changeSchema(base: StructType): StructType =
    StructType(base.fields.toSeq
      :+ org.apache.spark.sql.types.StructField(CHANGE_COL, StringType, nullable = false)
      :+ org.apache.spark.sql.types.StructField(CHANGE_VERSION_COL, LongType, nullable = false))

  /** Changelog read options: `changesFrom` = the BASE snapshot the
    * delta is measured against (EXCLUSIVE — 0 means "before the first
    * commit", i.e. the full history), `changesTo` = the last snapshot
    * whose changes are served (inclusive; absent = latest at scan
    * planning). Mutually exclusive with `version`. */
  /** Changelog range: `changesFrom` (exclusive base) / `changesTo`
    * (inclusive target, default latest). Either bound may be a NAMED
    * REF (branch/tag) — `changesTo=audit` tails a staged branch's
    * commits without knowing its head number (Iceberg's incremental
    * scan over a branch), which works because branch commits join the
    * SAME immutable global version chain. */
  def changesOf(properties: JMap[String, String], path: String): Option[(Int, Option[Int])] =
    Option(properties.get("changesFrom")).map { raw =>
      def resolve(opt: String, v: String): Int = {
        val t = v.trim
        // REFS RESOLVE FIRST: create_tag/create_branch allow digit-only
        // names, so a numeric-first parse would make such a ref
        // unaddressable here (silently read as a snapshot number);
        // a bound with no matching ref falls back to the number
        try resolveRef(path, t) catch {
          case refErr: IllegalArgumentException =>
            try t.toInt catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"graftsink: option '$opt' must be a snapshot number or a " +
                  s"branch/tag name — ${refErr.getMessage}")
            }
        }
      }
      val from = resolve("changesFrom", raw)
      require(from >= 0, s"graftsink: option 'changesFrom' must be >= 0, got $from")
      val to = Option(properties.get("changesTo")).map { t =>
        val v = resolve("changesTo", t)
        require(v > from,
          s"graftsink: option 'changesTo' ($v) must be > changesFrom ($from)")
        v
      }
      (from, to)
    }

  /** One changelog work unit: serve `name`'s contribution to commit
    * `commitVersion` as `change` rows. `onlyPositions` non-empty =
    * positions mode (ONLY those row positions — the delete-vector diff);
    * otherwise survivors mode (all rows except `skipDeletes`). */
  final case class ChangeFile(name: String, commitVersion: Int, change: String,
      skipDeletes: Array[Long], onlyPositions: Array[Long],
      cols: Option[Seq[Int]] = None)

  /** The file-grain delta of every commit in (from, to]: per consecutive
    * snapshot pair, files that entered serve their surviving rows as
    * inserts, files that left serve the rows that were live at the
    * prior snapshot as deletes, and files in both serve their NEW
    * delete-vector positions as deletes. Planned entirely from the
    * immutable `_manifest.vN` metadata (the Iceberg/Delta incremental-
    * scan shape: a week's changelog costs the week's files, never a
    * full-table diff); an expired snapshot in the range fails loudly
    * through readManifest. */
  def changelog(path: String, from: Int, to: Int): Seq[ChangeFile] = {
    require(from >= 0 && to >= from,
      s"graftsink: changelog range ($from, $to] is invalid")
    def manifest(v: Int): Manifest =
      if (v == 0) Manifest("", Nil)
      else readManifest(path, Some(v)).get // loud on missing/expired
    (from + 1 to to).flatMap { v =>
      val prev = manifest(v - 1)
      val cur = manifest(v)
      val prevEntries = prev.entries
      val curEntries = cur.entries
      val prevMap = prevEntries.map(e => e.name -> e).toMap
      val curNames = curEntries.map(_.name).toSet
      val added = curEntries.filterNot(e => prevMap.contains(e.name)).map { e =>
        ChangeFile(e.name, v, "insert", e.deletes.toArray, Array.empty, e.cols)
      }
      val removed = prevEntries.filterNot(e => curNames(e.name)).map { e =>
        ChangeFile(e.name, v, "delete", e.deletes.toArray, Array.empty, e.cols)
      }
      val dvDeletes = curEntries.flatMap { e =>
        prevMap.get(e.name).flatMap { pe =>
          val newDels = e.deletes.toSet -- pe.deletes
          if (newDels.isEmpty) None
          else Some(ChangeFile(e.name, v, "delete", Array.empty,
            newDels.toArray.sorted, e.cols))
        }
      }
      added ++ removed ++ dvDeletes
    }
  }

  // ONE shared Hadoop Configuration for every filesystem lookup: a fresh
  // `new Configuration()` re-parses core-default.xml from the classpath
  // (jar inflate + XML parse, ~1-5 ms) on first property read, and fs()
  // is called on every manifest/ref/props read and every data-file
  // open/create — per-row-group on the read path, per-staged-file on the
  // write path. Profiling (r14, q397 jstack: 13/30 hot executor samples
  // in Configuration.loadResources) showed this dominating sink IO.
  // Configuration is read-only after construction here, so sharing is
  // thread-safe; FileSystem.get caches instances by (scheme, authority)
  // regardless.
  private val sharedConf = {
    val c = new Configuration()
    // mirror the entry mains' spark.hadoop.fs.file.impl override (see
    // FastLocalFileSystem): the JVM-wide FileSystem cache keys on
    // (scheme, authority, ugi) only — whichever Configuration creates
    // the `file:` instance first wins, so both sides must agree
    c.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    c.setInt("io.file.buffer.size", 1 << 16)
    c
  }
  def fs(path: String): FileSystem =
    new HPath(path).getFileSystem(sharedConf)

  /** The java.nio path of `p` when `f` is the local filesystem — the
    * fast-IO shortcut [[openIn]]/[[createOut]] key on. */
  private def nioPath(f: FileSystem, p: HPath): Option[java.nio.file.Path] =
    if (f.getScheme == "file")
      Some(java.nio.file.Paths.get(f.makeQualified(p).toUri.getPath))
    else None

  /** Open a metadata/data file for reading. On the local filesystem this
    * bypasses ChecksumFileSystem (no .crc verification pass over the
    * bytes) via java.nio; other schemes keep the Hadoop stream. Always
    * buffered. */
  def openIn(f: FileSystem, p: HPath): java.io.InputStream =
    nioPath(f, p) match {
      case Some(np) => new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(np), 1 << 16)
      case None => new java.io.BufferedInputStream(f.open(p), 1 << 16)
    }

  /** Create a metadata/data file for writing (truncating any existing
    * body). On the local filesystem this uses java.nio directly:
    * RawLocalFileSystem's create() forks a `chmod` subprocess per file
    * when libhadoop is absent (r14 jstack: 17/30 hot executor samples in
    * Shell.execCommand/fork under create) and ChecksumFileSystem doubles
    * every create with a .crc sidecar — both pure overhead for these
    * single-writer staged files. Any stale sibling .crc from an older
    * checksummed write is dropped so Hadoop-side readers never verify new
    * bytes against old sums. Parent directories are created (Hadoop's
    * create() does so implicitly; nio does not). Always buffered. */
  def createOut(f: FileSystem, p: HPath): java.io.OutputStream =
    nioPath(f, p) match {
      case Some(np) =>
        Option(np.getParent).foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.deleteIfExists(
          np.resolveSibling(s".${np.getFileName}.crc"))
        new java.io.BufferedOutputStream(
          java.nio.file.Files.newOutputStream(np), 1 << 16)
      case None => f.create(p, true)
    }

  /** A committed snapshot's metadata. `ids` = the stable FIELD IDS of
    * the DDL's columns, in order (absent = positional 1..n — the state
    * of any table that never renamed or dropped a column; the first
    * rename/drop migrates ids in). `ts` = the commit wall-clock in
    * epoch millis, stamped MONOTONE at publish (the `TIMESTAMP AS OF`
    * resolution key). */
  /** `ref` = which pointer the commit originally advanced ("main" or
    * "branch.<b>"), stamped immutably in the version file at claim
    * time; None on snapshots written before the optimistic-concurrency
    * protocol landed. Attribution only — reads resolve through the
    * pointers/refs as before. */
  final case class Manifest(ddl: String, files: Seq[String],
      ids: Option[Seq[Int]] = None, ts: Option[Long] = None,
      ref: Option[String] = None) {
    /** `files` parsed. Only for an EXPANDED manifest: a raw one may hold
      * `group:` summary lines, which are not entries. */
    def entries: Seq[Entry] = files.map(Entry.parse)
  }

  private def manifestName(version: Option[Int]): String =
    version.fold(MANIFEST)(v => s"$MANIFEST.v$v")

  def readManifest(path: String): Option[Manifest] = readManifest(path, None)

  /** Read the latest manifest, or a pinned snapshot's (`_manifest.vN`),
    * with `group:` references EXPANDED into their entry lines — every
    * CONTENT consumer (procedures, changelog, count scan, metadata
    * tables) sees the flat entry list regardless of how the body is
    * stored. Planning-grade consumers that want group-level pruning or
    * byte-exact republication use [[readManifestRaw]]. */
  def readManifest(path: String, version: Option[Int]): Option[Manifest] =
    readManifestRaw(path, version).map(expandGroups(path, _))

  /** The manifest EXACTLY as stored (group references unexpanded).
    * A pinned version that does not exist fails LOUDLY with the list of
    * available snapshots — never silently serves the latest. */
  def readManifestRaw(path: String, version: Option[Int]): Option[Manifest] = {
    val f = fs(path)
    val mp = new HPath(path, manifestName(version))
    if (!f.exists(mp)) {
      version.foreach { v =>
        throw new IllegalArgumentException(
          s"graftsink: no snapshot v$v at $path (available: " +
            s"${listVersions(path).mkString(", ")})")
      }
      None
    } else {
      val in = new BufferedReader(new InputStreamReader(openIn(f, mp), StandardCharsets.UTF_8))
      try {
        val lines = Iterator.continually(in.readLine()).takeWhile(_ != null).toVector
        require(lines.nonEmpty, s"graftsink: empty manifest at $mp")
        // the head line is `ddl` plus optional tab-separated `ids:` and
        // `ts:` segments (a DDL never contains a literal tab)
        val head = lines.head.split("\t")
        val ids = head.drop(1).find(_.startsWith("ids:"))
          .map(_.stripPrefix("ids:").split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
        val ts = head.drop(1).find(_.startsWith("ts:"))
          .map(_.stripPrefix("ts:").toLong)
        val ref = head.drop(1).find(_.startsWith("ref:"))
          .map(_.stripPrefix("ref:"))
        Some(Manifest(head(0), lines.tail.filter(_.nonEmpty), ids, ts, ref))
      } finally in.close()
    }
  }

  /** Committed snapshot numbers, ascending (from `_manifest.vN` files). */
  def listVersions(path: String): Seq[Int] = {
    val f = fs(path)
    val root = new HPath(path)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(MANIFEST + ".v") =>
        n.stripPrefix(MANIFEST + ".v").toInt }
      .sorted
  }

  /** Publish a new snapshot: the immutable `_manifest.vN` FIRST, then
    * the `_manifest` latest-pointer (readers that race see either the
    * old or the new complete version — never a torn one). Returns the
    * committed version number. The commit wall-clock is stamped
    * STRICTLY MONOTONE (max(now, prev + 1)) so `TIMESTAMP AS OF` always
    * resolves a unique snapshot even for commits in the same
    * millisecond. */
  def writeManifest(path: String, m: Manifest): Int =
    writeManifestTo(path, m, None)

  /** Like [[writeManifest]], but `branch = Some(b)` advances the BRANCH
    * pointer `_ref.branch.<b>` instead of the `_manifest` main pointer:
    * the snapshot joins the same immutable global version chain, but
    * main readers never see it until `CALL graft.sys.publish_branch`
    * fast-forwards main — the write-audit-publish staging surface.
    *
    * Publishes through [[commitManifest]] with a constant plan: the
    * version SLOT is claimed atomically (no two commits can ever share
    * a `_manifest.vN` or a timestamp), but the CONTENT is not re-read
    * on retry — callers that compute `m` from the current table state
    * and need lost-update protection (appends, delete vectors) go
    * through [[commitManifest]] with a re-planning closure instead.
    * DDL/procedure writers keep this last-writer-wins surface. */
  def writeManifestTo(path: String, m: Manifest, branch: Option[String]): Int =
    commitManifest(path, branch)(() => m)

  /** OPTIMISTIC-CONCURRENCY commit (the Iceberg/Delta commit loop on a
    * filesystem chain): `plan` computes the manifest to publish from
    * the CURRENT table state; the publish then claims the next version
    * slot `_manifest.v(last+1)` with an ATOMIC create-if-absent. If
    * another writer claimed the slot first, the claim fails, the head
    * has provably moved, and `plan` re-runs against the NEW state — an
    * append re-plans as base'.files ++ its published entries (the
    * REBASE), a delete-vector commit re-folds its positions (refusing
    * if a concurrent rewrite removed a target file), and a replace
    * REFUSES on any base change (a replace computed from a stale
    * snapshot must never clobber an unseen commit). The slot file is
    * the lock token: two commits can never share a version or drop one
    * another's entries by racing the same slot. Planners read their
    * base CHAIN-DERIVED ([[mainHead]]/[[branchHead]]): a claimed slot
    * carries its full content and `ref:` attribution atomically, so it
    * is visible to the next plan BEFORE the winner's pointer move lands
    * — there is no claim-to-pointer-move window on the write path
    * (readers resolving through the pointer may briefly serve the
    * previous snapshot, the same read-side semantics pointer-last
    * publishing always had). Claims rely on the filesystem's atomic
    * create-if-absent (HDFS/ABFS native; local FS best-effort; S3
    * would need the catalog to arbitrate). */
  def commitManifest(path: String, branch: Option[String],
      maxAttempts: Int = 8)(plan: () => Manifest): Int = {
    val f = fs(path)
    var attempt = 0
    while (true) {
      attempt += 1
      // chain-state read FIRST, plan second: anything that commits
      // after this read takes (or already took) the slot we are about
      // to claim, so our claim fails and we re-plan — a stale plan can
      // never land on a later slot
      val prev = listVersions(path).lastOption
      val m = plan()
      val next = prev.getOrElse(0) + 1
      val prevTs = prev.flatMap(v => readManifestRaw(path, Some(v)).flatMap(_.ts)).getOrElse(0L)
      val ts = math.max(System.currentTimeMillis(), prevTs + 1)
      val stamped = m.copy(ts = Some(ts),
        ref = Some(branch.fold("main")(b => s"branch.$b")))
      // large snapshots publish through the two-level metadata tree:
      // immutable content-addressed group files first (idempotent, so a
      // lost race re-plans without orphan churn for unchanged chunks),
      // then the slot body holding the summary lines — the commit
      // protocol itself is untouched (the claim still carries the
      // complete body atomically; the pointer still copies it verbatim)
      val bodyM = maybeGroup(path, f, stamped)
      if (claimSlot(f, new HPath(path, manifestName(Some(next))),
          serializeManifest(bodyM))) {
        advancePointer(path, branch)
        return next
      }
      if (attempt >= maxAttempts)
        throw new java.util.ConcurrentModificationException(
          s"graftsink: lost the commit race $maxAttempts times at $path " +
            s"(version $next kept being claimed by concurrent writers)")
      // let the winner's pointer move land before re-planning
      Thread.sleep(math.min(50L * attempt, 200L))
    }
    -1 // unreachable
  }

  /** The exact on-disk manifest encoding (head line = ddl + optional
    * tab-separated `ids:`/`ts:`/`ref:` segments, then one file entry per
    * line) — the single serializer the slot claim AND the pointer
    * repair share, so a re-published pointer is byte-identical to the
    * slot it mirrors. */
  private def serializeManifest(m: Manifest): Array[Byte] = {
    val head = m.ddl +
      m.ids.fold("")(ids => s"\tids:${ids.mkString(",")}") +
      m.ts.fold("")(t => s"\tts:$t") +
      m.ref.fold("")(r => s"\tref:$r")
    (head +: m.files).mkString("\n").getBytes(StandardCharsets.UTF_8)
  }

  /** The atomic slot claim. Hadoop's `create(path, overwrite = false)`
    * is only atomic where the filesystem makes it so (HDFS/ABFS);
    * RawLocalFileSystem implements it as exists-check-then-create — a
    * TOCTOU window in which two local writers both "win" the same slot
    * and one body silently truncates the other. On the `file:` scheme
    * the claim therefore stages the full body in a temp file and
    * hard-links it to the slot name — POSIX link(2) is atomic and fails
    * EEXIST, so the claim carries its COMPLETE content in the same
    * atomic step (a racing reader lists the slot only once every byte
    * is readable; an O_EXCL create-then-write would expose a partial
    * file). ChecksumFileSystem tolerates the missing .crc on read.
    * Everything else keeps the filesystem's native create-if-absent. */
  private def claimSlot(f: FileSystem, slot: HPath, body: Array[Byte]): Boolean =
    try {
      if (f.getScheme == "file") {
        val nio = java.nio.file.Paths.get(
          f.makeQualified(slot).toUri.getPath)
        // Hadoop's create() mkdirs parents implicitly; nio does not
        Option(nio.getParent).foreach(java.nio.file.Files.createDirectories(_))
        val tmp = nio.resolveSibling(
          s".${nio.getFileName}.claim.${java.util.UUID.randomUUID().toString.take(8)}")
        java.nio.file.Files.write(tmp, body)
        try { java.nio.file.Files.createLink(nio, tmp); true }
        finally java.nio.file.Files.deleteIfExists(tmp)
      } else {
        val out = f.create(slot, false)
        try out.write(body) finally out.close()
        true
      }
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
    }

  /** ATOMIC pointer overwrite. `create(path, overwrite = true)` on the
    * local filesystem truncates the destination before writing — a
    * reader racing the overwrite sees an EMPTY or torn pointer and
    * fails loudly ("empty manifest"). Pointer/ref moves therefore stage
    * the new body in a sibling temp file and rename it into place
    * (POSIX rename is atomic: readers see the old complete body or the
    * new complete body, never a torn one). The rename bypasses
    * ChecksumFileSystem, so any stale sibling .crc from an older
    * checksummed write is dropped first — a leftover would otherwise
    * fail verification against the new bytes. Non-local filesystems
    * keep the native overwrite (HDFS leases serialize it). */
  private[sources] def atomicOverwrite(f: FileSystem, dst: HPath, body: Array[Byte]): Unit =
    if (f.getScheme == "file") {
      val dstNio = java.nio.file.Paths.get(f.makeQualified(dst).toUri.getPath)
      Option(dstNio.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val tmp = dstNio.resolveSibling(
        s".${dstNio.getFileName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp, body)
      java.nio.file.Files.deleteIfExists(
        dstNio.resolveSibling(s".${dstNio.getFileName}.crc"))
      java.nio.file.Files.move(tmp, dstNio,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val out = f.create(dst, true)
      try out.write(body) finally out.close()
    }

  /** In-place ATOMIC rewrite of an existing snapshot file. Reserved for
    * expire-time GC surgery that provably preserves every kept
    * snapshot's VISIBLE rows (applying a delete vector that every
    * surviving reference agrees on) — never a commit path: the
    * version number, ts, and ref attribution are preserved verbatim. */
  private[sources] def rewriteManifestInPlace(path: String, v: Int, m: Manifest): Unit =
    atomicOverwrite(fs(path), new HPath(path, manifestName(Some(v))),
      serializeManifest(m))

  /** Re-sync the main pointer's COPIED body with the version it
    * mirrors (matched by commit ts) after an in-place snapshot
    * rewrite — without this, pointer readers would keep serving
    * manifest lines that name since-GC'd files. */
  private[sources] def refreshPointerContent(path: String): Unit =
    for (ptr <- readManifestRaw(path, None); pts <- ptr.ts) {
      listVersions(path).reverseIterator
        .flatMap(v => readManifestRaw(path, Some(v)))
        .find(_.ts.contains(pts))
        .foreach(m => atomicOverwrite(fs(path), new HPath(path, MANIFEST),
          serializeManifest(m)))
    }

  /** GUARDED, FIX-FORWARD pointer move (closes the pointer-regression
    * race): a winner that stalls between its slot claim and its pointer
    * write must never overwrite a NEWER commit's pointer with its older
    * body. Instead of publishing its own snapshot unconditionally, every
    * committer advances the pointer to the NEWEST chain slot attributed
    * to this ref, and only when the pointer is older than that slot —
    * so a late writer either lands its own commit (the common case) or
    * repairs the pointer forward on the racer's behalf. The check-then-
    * write is NOT a CAS: a writer that passes the age check, is
    * overtaken by a newer pointer write, lands its stale body, and
    * crashes before the verify re-read leaves the plain pointer
    * regressed until the next advance (any later commit, or the other
    * racer's own verify loop) repairs it forward — the guard SHRINKS
    * the regression window (age check + a second re-read adjacent to
    * the overwrite + post-write verify), it cannot eliminate it on a
    * plain file. Planner reads don't rely on it at all: [[mainHead]]'s
    * chain reconciliation is regression-proof regardless of the
    * pointer body; the guard is best-effort hygiene for PLAIN pointer
    * readers only. */
  private def advancePointer(path: String, branch: Option[String]): Unit = {
    val f = fs(path)
    val refStr = branch.fold("main")(b => s"branch.$b")
    var i = 0
    var settled = false
    while (!settled && i < 4) {
      i += 1
      // newest chain slot attributed to this pointer (same walk-and-stop
      // rules as headOf: legacy unattributed snapshots end the walk —
      // they were published pointer-first and own the pointer). RAW
      // reads throughout: the walk needs only head segments, and the
      // republished pointer body must stay byte-identical to its slot
      // (group references included, never expanded)
      val vs = listVersions(path)
      var j = vs.length - 1
      var newest: Option[(Int, Manifest)] = None
      var scanning = true
      while (j >= 0 && scanning) {
        readManifestRaw(path, Some(vs(j))) match {
          case None => scanning = false
          case Some(mm) => mm.ref match {
            case Some(r) if r == refStr => newest = Some((vs(j), mm)); scanning = false
            case Some(_) => j -= 1
            case None => scanning = false
          }
        }
      }
      newest match {
        case None => settled = true
        case Some((v, mm)) =>
          val ptrTs = branch match {
            case Some(b) => readRef(path, "branch", b)
              .flatMap(pv => readManifestRaw(path, Some(pv))).flatMap(_.ts)
            case None => readManifestRaw(path, None).flatMap(_.ts)
          }
          if (ptrTs.exists(_ >= mm.ts.getOrElse(0L))) settled = true
          else {
            // second age check ADJACENT to the write: the first read is
            // separated from here by a full chain walk, so re-reading
            // now shrinks the check-then-write window to the two
            // instructions the filesystem forces on us (see docstring —
            // a plain file offers no CAS; the loop's post-write re-read
            // plus any later advance repairs what still slips through)
            val ptrTs2 = branch match {
              case Some(b) => readRef(path, "branch", b)
                .flatMap(pv => readManifestRaw(path, Some(pv))).flatMap(_.ts)
              case None => readManifestRaw(path, None).flatMap(_.ts)
            }
            if (ptrTs2.exists(_ >= mm.ts.getOrElse(0L))) settled = true
            else branch match {
              case Some(b) => writeRef(path, "branch", b, v)
              case None =>
                atomicOverwrite(f, new HPath(path, MANIFEST), serializeManifest(mm))
            }
          }
      }
    }
  }

  /** CHAIN-ATTRIBUTED head resolution (closes [[commitManifest]]'s
    * documented claim-to-pointer-move window for PLANNERS): the head of
    * a pointer is the newest `_manifest.vN` whose immutable `ref:`
    * segment names it, reconciled with the pointer's own target by
    * commit timestamp — whichever is NEWER wins. A freshly CLAIMED slot
    * is therefore visible to the next commit's plan immediately, before
    * the winner's pointer/ref move lands; legacy snapshots (no `ref:`)
    * and old-style pointer-copy publishes resolve through the pointer
    * as before. Cost: the walk reads manifests newest-down and stops at
    * the first attribution hit — one or two metadata reads. */
  def mainHead(path: String): Option[Manifest] =
    headOf(path, "main", readManifestRaw(path, None))
      .map(expandGroups(path, _))

  /** The snapshot VERSION a resolved manifest corresponds to, matched
    * by commit ts newest-down (ts is the identity [[refreshPointerContent]]
    * already keys on). Derived artifacts (ANALYZE stats, sketches) must
    * stamp THIS version — the one whose data was actually scanned —
    * never `listVersions.last`: a commit landing between the head read
    * and the stamp would otherwise mark the artifact fresh at a version
    * it never saw. */
  def versionOf(path: String, m: Manifest): Option[Int] =
    m.ts.flatMap(t => listVersions(path).reverseIterator
      .find(v => readManifestRaw(path, Some(v)).flatMap(_.ts).contains(t)))

  def branchHead(path: String, b: String): Option[Manifest] =
    headOf(path, s"branch.$b",
      readRef(path, "branch", b).flatMap(v => readManifestRaw(path, Some(v))))
      .map(expandGroups(path, _))

  /** RAW throughout (the walk consults only head segments; callers
    * expand the winner once). */
  private def headOf(path: String, refName: String,
      ptr: Option[Manifest]): Option[Manifest] = {
    val vs = listVersions(path)
    var i = vs.length - 1
    var chain: Option[Manifest] = None
    var scanning = true
    while (i >= 0 && scanning) {
      readManifestRaw(path, Some(vs(i))) match {
        case None => scanning = false // expired below here
        case Some(m) => m.ref match {
          case Some(r) if r == refName => chain = Some(m); scanning = false
          case Some(_) => i -= 1 // another pointer's commit — keep walking
          case None => scanning = false // legacy, unattributed: pointer rules
        }
      }
    }
    (ptr, chain) match {
      case (Some(a), Some(b)) =>
        if (b.ts.getOrElse(0L) > a.ts.getOrElse(0L)) Some(b) else Some(a)
      case (a, b) => a.orElse(b)
    }
  }

  // --- named refs (tags = immutable, branches = movable pointers) -----

  private def refName(kind: String, name: String): String = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"graftsink: ref name '$name' (allowed: letters, digits, _)")
    s"_ref.$kind.$name"
  }

  def writeRef(path: String, kind: String, name: String, version: Int): Unit =
    atomicOverwrite(fs(path), new HPath(path, refName(kind, name)),
      version.toString.getBytes(StandardCharsets.UTF_8))

  def readRef(path: String, kind: String, name: String): Option[Int] = {
    val f = fs(path)
    val p = new HPath(path, refName(kind, name))
    if (!f.exists(p)) None
    else {
      val in = new BufferedReader(new InputStreamReader(openIn(f, p), StandardCharsets.UTF_8))
      try Some(in.readLine().trim.toInt) finally in.close()
    }
  }

  def dropRef(path: String, kind: String, name: String): Boolean =
    fs(path).delete(new HPath(path, refName(kind, name)), false)

  /** Resolve a ref NAME (branch first, then tag) to its pinned snapshot
    * version; loud when neither exists. */
  def resolveRef(path: String, name: String): Int =
    readRef(path, "branch", name).orElse(readRef(path, "tag", name))
      .getOrElse(throw new IllegalArgumentException(
        s"graftsink: no branch or tag '$name' at $path (refs: " +
          s"${listRefs(path).map { case (k, n, v) => s"$k.$n->v$v" }.mkString(", ")})"))

  /** All (kind, name, version) refs of the table. */
  def listRefs(path: String): Seq[(String, String, Int)] = {
    val f = fs(path)
    val root = new HPath(path)
    if (!f.exists(root)) return Nil
    f.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("_ref.") =>
        val parts = n.split("\\.", 3)
        (parts(1), parts(2), readRef(path, parts(1), parts(2)).getOrElse(-1))
      }.sortBy(r => (r._1, r._2))
  }

  /** Optional `ref` read option: pin the read to a named branch/tag. */
  def refOf(properties: JMap[String, String]): Option[String] =
    Option(properties.get("ref"))

  /** Optional `toBranch` write option: stage commits on a branch. */
  def branchOf(properties: JMap[String, String]): Option[String] =
    Option(properties.get("toBranch"))

  /** Durable table properties (`_props`, one `k=v` per line) — written
    * by the catalog at CREATE TABLE; `write.mode=merge-on-read` routes
    * row-level SQL through the delta (delete-vector) operation instead
    * of copy-on-write. */
  def readProps(path: String): Map[String, String] = {
    val f = fs(path)
    val pp = new HPath(path, PROPS)
    if (!f.exists(pp)) Map.empty
    else {
      val in = new BufferedReader(new InputStreamReader(openIn(f, pp), StandardCharsets.UTF_8))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(_.contains('=')).map { l =>
          val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
        }.toMap
      finally in.close()
    }
  }

  def writeProps(path: String, props: Map[String, String]): Unit = {
    if (props.isEmpty) return
    val out = createOut(fs(path), new HPath(path, PROPS))
    try out.write(props.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Column-default props (`default.<col>` — SQL initial/current
    * defaults, Iceberg/Delta parity): the value is stored TSV-encoded
    * (same escape codec as row fields), typed by the table schema at
    * read time. Semantics: files written BEFORE the column existed
    * serve the default on read (initial default, zero rewrite);
    * INSERTs that omit the column get it filled by Spark from the
    * CURRENT_DEFAULT metadata the table schema carries. Defaults are
    * only ever attached at ADD COLUMN / CREATE time — SET/DROP DEFAULT
    * would fork initial vs current and is refused. */
  val DEFAULT_PROP_PREFIX = "default."

  def columnDefaults(path: String): Map[String, String] =
    readProps(path).collect {
      case (k, v) if k.startsWith(DEFAULT_PROP_PREFIX) =>
        k.stripPrefix(DEFAULT_PROP_PREFIX) -> v
    }

  def encodeDefault(v: Any): String = v match {
    case null => "\\N"
    case u: UTF8String => encodeStringField(u.toString)
    case s: String => encodeStringField(s)
    case other => other.toString
  }

  /** The SQL-literal text of a stored default (for the CURRENT_DEFAULT
    * / EXISTS_DEFAULT schema metadata Spark's insert-path resolution
    * reads). Doubles round-trip through a string CAST — exact for any
    * Java shortest-round-trip rendering. */
  def defaultSql(dt: DataType, enc: String): String = {
    val v = decodeField(dt, enc)
    if (v == null) "NULL"
    else dt match {
      // Spark's literal parser treats backslash as an escape inside
      // single quotes — escape it FIRST or a default like 'C:\temp'
      // is mangled on the INSERT path while the read-path back-fill
      // (which decodes the stored prop directly) serves it verbatim
      case StringType =>
        "'" + v.toString.replace("\\", "\\\\").replace("'", "''") + "'"
      case DoubleType => s"CAST('${v.toString}' AS DOUBLE)"
      case _ => v.toString
    }
  }

  /** The CATALYST value of a stored default (what the reader back-fills
    * for pre-column files). */
  def defaultCatalystValue(dt: DataType, enc: String): Any =
    decodeField(dt, enc) match {
      case s: String => UTF8String.fromString(s)
      case other => other
    }

  /** ANALYZE output (`_colstats`, one file): line 1 = `v:N` (the
    * snapshot the stats describe), then one `name\tndv\tnulls` line per
    * column. Stats are valid ONLY for snapshot N — any later commit
    * leaves them version-stale and the scan stops serving them, the
    * cheap invalidation every stats catalog uses (re-ANALYZE to
    * refresh; the old file is simply overwritten). */
  def writeColStats(path: String, version: Int,
      stats: Seq[(String, Long, Long)]): Unit = {
    val out = createOut(fs(path), new HPath(path, COLSTATS))
    try out.write((s"v:$version" +: stats.map { case (n, d, u) => s"$n\t$d\t$u" })
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def readColStats(path: String): Option[(Int, Seq[(String, Long, Long)])] = {
    val f = fs(path)
    val pp = new HPath(path, COLSTATS)
    if (!f.exists(pp)) None
    else {
      val in = new BufferedReader(new InputStreamReader(openIn(f, pp), StandardCharsets.UTF_8))
      try {
        val lines = Iterator.continually(in.readLine()).takeWhile(_ != null).toList
        val v = lines.head.stripPrefix("v:").trim.toInt
        Some(v -> lines.tail.filter(_.nonEmpty).map { l =>
          val p = l.split("\t")
          (p(0), p(1).toLong, p(2).toLong)
        })
      } finally in.close()
    }
  }

  /** Column names the connector itself serves: the metadata/row-id pair
    * and the changelog pair. A data column under one of these names
    * would be silently shadowed on read (Spark resolves the name to the
    * data column but the reader would serve the sentinel), so creation
    * rejects them outright. */
  val RESERVED_COLS: Set[String] = Set("_file", "_pos", CHANGE_COL, CHANGE_VERSION_COL)

  def checkSchema(schema: StructType): Unit = schema.fields.foreach { fld =>
    require(!RESERVED_COLS(fld.name),
      s"graftsink: column name '${fld.name}' is reserved " +
        s"(${RESERVED_COLS.toSeq.sorted.mkString(", ")} are connector-served)")
    fld.dataType match {
      case LongType | IntegerType | DoubleType | StringType | BinaryType => ()
      // ARRAY<FLOAT> — the embedding-column type (q41/q61's vectors).
      // Declared containsNull is accepted either way (Scala encoders
      // default it true), but a row with an actual NULL LANE refuses at
      // encode time — a vector with null lanes has no dot-product
      // semantics and no packed representation.
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => ()
      case dt => throw new IllegalArgumentException(
        s"graftsink: unsupported column type ${dt.sql} for '${fld.name}' " +
          "(supported: BIGINT, INT, DOUBLE, STRING, BINARY, ARRAY<FLOAT>)")
    }
  }

  /** The DDL a manifest stores: field METADATA stripped — a schema
    * carrying CURRENT_DEFAULT metadata would render `... DEFAULT 'x'`
    * clauses that StructType.fromDDL cannot parse back (defaults are
    * durable `default.<col>` props, never DDL). */
  def cleanDdl(schema: StructType): String =
    StructType(schema.fields.map(_.copy(
      metadata = org.apache.spark.sql.types.Metadata.empty))).toDDL

  /** Append-compatibility: same column names and types, nullability
    * IGNORED — a NOT NULL query result appending into a nullable table
    * (every `INSERT INTO t VALUES ...`) is the normal case, and the TSV
    * codec stores NULL per-value anyway. The manifest keeps the TABLE's
    * declared DDL — except that a NULLABLE write appending into a NOT
    * NULL column WIDENS the published DDL to nullable (see
    * [[widenedDdl]]): the write may genuinely contain NULLs, and
    * serving them through a non-nullable schema would mislead
    * downstream null-aware optimizations. */
  def schemaCompatible(tableDdl: String, write: StructType): Boolean = {
    // array element containsNull is IGNORED like field nullability:
    // the codec stores lanes per value (and refuses null lanes), so a
    // containsNull=false writer into a declared-true column (or vice
    // versa) is the normal encoder-vs-DDL drift, not a type change
    def norm(dt: DataType): DataType = dt match {
      case org.apache.spark.sql.types.ArrayType(e, _) =>
        org.apache.spark.sql.types.ArrayType(norm(e), containsNull = true)
      case other => other
    }
    val t = StructType.fromDDL(tableDdl)
    t.length == write.length && t.fields.zip(write.fields).forall {
      case (a, b) => a.name == b.name && norm(a.dataType) == norm(b.dataType)
    }
  }

  /** The table DDL an append publishes: the TABLE's declared fields,
    * with any column the incoming write declares nullable widened to
    * nullable (nullability only ever loosens — the safe direction). */
  def widenedDdl(tableDdl: String, write: StructType): String = {
    val t = StructType.fromDDL(tableDdl)
    if (t.length != write.length) tableDdl
    else StructType(t.fields.zip(write.fields).map {
      case (a, b) if b.nullable && !a.nullable => a.copy(nullable = true)
      case (a, _) => a
    }).toDDL
  }

  // --- TSV field codec (escape-stable, null-safe, type-exact) ---------
  def encodeField(dt: DataType, row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) "\\N"
    else dt match {
      case LongType    => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType  => row.getDouble(i).toString // Java shortest round-trip
      case StringType  => encodeStringField(row.getUTF8String(i).toString)
      // BINARY: base64 — the alphabet contains no tab/newline/backslash,
      // so the escape layer never touches it (multimodal payloads —
      // images/audio as opaque bytes — round-trip bit-exactly)
      case BinaryType  =>
        java.util.Base64.getEncoder.encodeToString(row.getBinary(i))
      // ARRAY<FLOAT>: the IEEE bit patterns packed little-endian, then
      // base64 — 4 bytes/lane, bit-exact round-trip, no per-lane string
      // rendering (an embedding column costs ~5.4 chars/lane, vs ~13
      // for decimal text)
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) =>
        val arr = row.getArray(i)
        val n = arr.numElements()
        val bb = java.nio.ByteBuffer.allocate(n * 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var j = 0
        while (j < n) {
          if (arr.isNullAt(j)) throw new IllegalArgumentException(
            s"graftsink: ARRAY<FLOAT> value has a NULL lane at index $j " +
              "— vectors with null lanes have no packed representation")
          bb.putFloat(arr.getFloat(j))
          j += 1
        }
        java.util.Base64.getEncoder.encodeToString(bb.array())
      case dt => throw new IllegalArgumentException(s"graftsink: unsupported type $dt")
    }

  def encodeStringField(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

  def decodeField(dt: DataType, raw: String): Any =
    if (raw == "\\N") null
    else dt match {
      case LongType    => raw.toLong
      case IntegerType => raw.toInt
      case DoubleType  => raw.toDouble
      case StringType  =>
        val sb = new java.lang.StringBuilder(raw.length)
        var i = 0
        while (i < raw.length) {
          val c = raw.charAt(i)
          if (c == '\\' && i + 1 < raw.length) {
            raw.charAt(i + 1) match {
              case 't' => sb.append('\t'); case 'n' => sb.append('\n')
              case '\\' => sb.append('\\')
              case o => sb.append('\\').append(o)
            }
            i += 2
          } else { sb.append(c); i += 1 }
        }
        UTF8String.fromString(sb.toString)
      case BinaryType => java.util.Base64.getDecoder.decode(raw)
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, _) =>
        val bytes = java.util.Base64.getDecoder.decode(raw)
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val fs = new Array[Float](bytes.length / 4)
        var j = 0
        while (j < fs.length) { fs(j) = bb.getFloat(); j += 1 }
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(fs)
      case dt => throw new IllegalArgumentException(s"graftsink: unsupported type $dt")
    }

  /** Split a TSV line on UNESCAPED tabs (an escaped `\t` never appears:
    * the encoder rewrites literal tab characters to the 2-char escape,
    * so every 0x09 byte in the file is a field separator). */
  def splitLine(line: String): Array[String] = line.split("\t", -1)
}

object GraftSinkTable {
  /** Attach CURRENT_DEFAULT / EXISTS_DEFAULT metadata from the stored
    * `default.<col>` props — what Spark's insert-path default
    * resolution reads (an INSERT omitting the column gets the current
    * default; the reader serves the initial default for pre-column
    * files itself). */
  def withDefaultMetadata(path: String, st: StructType): StructType = {
    val defs = GraftSink.columnDefaults(path)
    if (defs.isEmpty) st
    else StructType(st.fields.map { f =>
      defs.get(f.name).fold(f) { enc =>
        val sql = GraftSink.defaultSql(f.dataType, enc)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", sql)
          .putString("EXISTS_DEFAULT", sql)
          .build())
      }
    })
  }
}

class GraftSinkTable(path: String, declared: StructType,
    version: Option[Int] = None,
    changes: Option[(Int, Option[Int])] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  def this(path: String, declared: StructType) = this(path, declared, None, None)
  def this(path: String, declared: StructType, version: Option[Int]) =
    this(path, declared, version, None)
  override def name(): String = s"graftsink($path${version.fold("")(v => s"@v$v")}" +
    changes.fold("") { case (f, t) => s"@changes($f,${t.fold("latest")(_.toString)})" } + ")"

  /** Hidden per-row provenance AND the merge-on-read row id: `_file`
    * (manifest entry name) + `_pos` (original line position — stable
    * under later deletes because suppressed rows still advance it).
    * Resolved by NAME only, never via SELECT *. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "manifest entry name of the serving data file"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "original row position within the data file"
      })
  override def schema(): StructType =
    if (changes.isDefined) declared // provider-built: range-end schema + change cols
    else GraftSinkTable.withDefaultMetadata(path,
      GraftSink.readManifestRaw(path, version) // head-only: ddl
        .map(m => StructType.fromDDL(m.ddl)).getOrElse(declared))

  /** The table's declared partitioning (durable `_props` state, set at
    * CREATE TABLE ... PARTITIONED BY): identity columns, or the bucket
    * transform. Reported so the planner sees the layout; enforced by
    * the partitioned write path. */
  override def partitioning(): Array[Transform] =
    GraftSink.bucketSpecOf(path) match {
      case Some((c, n)) => Array(Expressions.bucket(n, c))
      case None => GraftSink.partitionColsOf(path).map(Expressions.identity).toArray
    }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    changes match {
      case Some((from, to)) =>
        new GraftSinkChangelogScanBuilder(path, schema(), from, to)
      case None =>
        // `grouped=true` (on a partitioned table) requests a KEY-GROUPED
        // scan: one InputPartition per partition tuple, each reporting
        // its key — the storage-partitioned-join surface (q384)
        val grouped = options.getBoolean("grouped", false)
        if (grouped) require(GraftSink.partitionColsOf(path).nonEmpty ||
          GraftSink.bucketSpecOf(path).isDefined,
          "graftsink: option 'grouped' requires a partitioned table")
        // `files=a,b,c` restricts PLANNING to the named manifest entries
        // (unknown names refuse loudly) — the incremental-maintenance
        // read surface: a stats refresh or per-file audit reads exactly
        // the files that changed, never the table (analyze_sketch's
        // incremental pass)
        val filesSubset = Option(options.get("files"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
          .filter(_.nonEmpty)
        new GraftSinkScanBuilder(path, schema(), version,
          // grouped scans opt out of runtime filtering: a post-planning
          // narrowing would change the reported partition-value list
          // AFTER outputPartitioning was consulted (graftseq's keyed
          // contract, ADVICE r9)
          runtimeFiltering = !grouped, grouped = grouped,
          filesSubset = filesSubset)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(version.isEmpty,
      "graftsink: cannot write through a time-travel read (option 'version')")
    require(changes.isEmpty,
      "graftsink: cannot write through a changelog read (option 'changesFrom')")
    new GraftSinkWriteBuilder(path, info.schema(), info.queryId(), info.options())
  }

  /** Row-level SQL (`DELETE FROM` / `UPDATE` / `MERGE INTO`, resolved
    * through a catalog identifier — GraftCatalog.scala): group-based
    * COPY-ON-WRITE. Spark rewrites the statement into ReplaceData —
    * scan the affected groups through the operation's scan, compute
    * the surviving/updated/merged rows, write them back through the
    * operation's write — and the commit publishes a manifest listing
    * ONLY the rewritten files. graftsink keeps no per-file column
    * stats, so the group granularity is the WHOLE committed snapshot
    * (every file is an affected group and the table is rewritten);
    * a stats-carrying manifest would narrow this to matching files,
    * the same contract at finer grain. Replaced files stay on disk
    * for the older `_manifest.vN` snapshots — a row-level mutation is
    * just one more time-travelable commit.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    require(version.isEmpty,
      "graftsink: cannot mutate through a time-travel read (option 'version')")
    require(changes.isEmpty,
      "graftsink: cannot mutate through a changelog read (option 'changesFrom')")
    // write.mode=merge-on-read (a durable _props table property) routes
    // DELETE/UPDATE/MERGE through the DELTA operation: positions are
    // recorded as delete vectors and inserts land in new files — data
    // files are never rewritten (compact applies + drops the DVs).
    // Default stays group-based copy-on-write.
    val mor = GraftSink.readProps(path).get("write.mode").contains("merge-on-read")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        if (mor) new GraftSinkDeltaOperation(path, info.command())
        else new GraftSinkRowLevelOperation(path, info.command())
    }
  }
}

/** Group-based copy-on-write row-level operation (DELETE/UPDATE/MERGE):
  * the scan serves the current snapshot; the write REPLACES it (the
  * truncate-mode commit — new manifest lists only the rewritten files).
  */
class GraftSinkRowLevelOperation(path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftSinkRowLevelOperation($cmd, $path)"

  // the base snapshot the rewrite's scan was PLANNED against, captured
  // BEFORE the scan builder reads the manifest: any commit landing after
  // this point moves the head ts, and the write-side guard (seeded with
  // this value) refuses the replace on its FIRST attempt — closing the
  // scan-to-first-commit-attempt window, not just the between-retries
  // one. Capture-before-read errs toward a spurious refusal (safe)
  // rather than a silent lost update.
  @volatile private var scanBaseTs: Option[Option[Long]] = None

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    scanBaseTs = Some(GraftSink.mainHead(path).flatMap(_.ts))
    val schema = GraftSink.readManifestRaw(path, None) // head-only: ddl
      .map(m => StructType.fromDDL(m.ddl))
      .getOrElse(throw new IllegalArgumentException(
        s"graftsink: no committed table at $path"))
    // runtime group filtering OFF: the COW write replaces the WHOLE
    // snapshot, so a group-narrowed rewrite scan would silently drop
    // the unmatched partitions' files at commit
    new GraftSinkScanBuilder(path, schema, None, runtimeFiltering = false)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          GraftSink.checkSchema(info.schema())
          // a copy-on-write rewrite of a PARTITIONED table must keep
          // the per-file part: segments (the pruning index) intact
          val partCols = GraftSink.partitionColsOf(path)
          if (partCols.nonEmpty)
            new GraftSinkPartitionedBatchWrite(path, info.schema(),
              info.queryId(), truncate = true, partCols,
              partCols.map(info.schema().fieldIndex).toArray,
              scanBaseTs = scanBaseTs)
          else
            new GraftSinkBatchWrite(path, info.schema(), info.queryId(),
              truncate = true, scanBaseTs = scanBaseTs)
        }
      }
    }
}

// --------------------------------------------------------------------
// WRITE path
// --------------------------------------------------------------------

class GraftSinkWriteBuilder(path: String, schema: StructType, queryId: String,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
  with org.apache.spark.sql.connector.write.SupportsOverwrite {

  private var doTruncate = false
  private var dynamicOverwrite = false
  // REPLACE WHERE: allowed ENCODED values per identity partition column
  private var replaceWhere: Option[Map[String, Set[String]]] = None

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** Dynamic partition overwrite (`writeTo(t).overwritePartitions()` /
    * INSERT OVERWRITE under partitionOverwriteMode=dynamic — the
    * daily-reload verb): exactly the partitions the INCOMING data
    * touches are replaced; everything else survives untouched. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true; this
  }

  /** Filter overwrite (`writeTo(t).overwrite(cond)` / INSERT OVERWRITE
    * with a static PARTITION spec — Iceberg's REPLACE WHERE): the
    * condition must resolve to partition-grain equality/IN constraints
    * on identity partition columns; matching partitions are replaced,
    * and every incoming row must itself satisfy the condition (a row
    * outside it would silently ADD instead of replace — refused).
    * A true-literal condition is a plain truncate. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    import org.apache.spark.sql.sources._
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])) {
      doTruncate = true; return this
    }
    val partCols = GraftSink.partitionColsOf(path).toSet
    def enc(v: Any): String =
      if (v == null) "\\N" else GraftSink.encodePartValue(v)
    def constraintsOf(f: Filter): Map[String, Set[String]] = f match {
      case EqualTo(c, v) if partCols(c) => Map(c -> Set(enc(v)))
      case EqualNullSafe(c, v) if partCols(c) => Map(c -> Set(enc(v)))
      case In(c, vs) if partCols(c) => Map(c -> vs.map(enc).toSet)
      case And(l, r) =>
        val (a, b) = (constraintsOf(l), constraintsOf(r))
        (a.keySet ++ b.keySet).map(c => c -> {
          (a.get(c), b.get(c)) match {
            case (Some(x), Some(y)) => x intersect y
            case (x, y) => x.orElse(y).get
          }
        }).toMap
      case other => throw new IllegalArgumentException(
        "graftsink: overwrite-by-filter supports equality/IN on identity " +
          s"partition columns only, got $other (use DELETE FROM + append, " +
          "or overwritePartitions() for data-driven replacement)")
    }
    replaceWhere = Some(filters.map(constraintsOf)
      .reduce((a, b) => (a.keySet ++ b.keySet).map(c => c -> {
        (a.get(c), b.get(c)) match {
          case (Some(x), Some(y)) => x intersect y
          case (x, y) => x.orElse(y).get
        }
      }).toMap))
    this
  }

  /** Connector-requested write layout (`RequiresDistributionAndOrdering`
    * — the scale-critical half of the V2 write contract): with option
    * `clusterBy=<col>` the sink DECLARES it wants rows clustered by
    * that column (Spark inserts the hash shuffle — the user never
    * hand-repartitions) and sorted within each writer task, so every
    * key's rows land in exactly ONE output file, sorted. Option
    * `shards=<n>` additionally pins the writer-task count — the "N
    * output files" knob a table format uses to control file sizing. A
    * sink WITHOUT this interface inherits the query's arbitrary
    * partitioning: at 100 TB that means every key sprayed across
    * thousands of files and no file-level pruning on read.
    */
  override def build(): Write = {
    val clusterBy = Option(options.get("clusterBy"))
    // `toBranch` stages the commit on a named branch: the snapshot
    // joins the global version chain but only the branch pointer
    // advances — main readers see nothing until publish_branch
    // fast-forwards (write-audit-publish)
    val branch = Option(options.get("toBranch"))
    val shards = Option(options.get("shards")).map { raw =>
      val n = try raw.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graftsink: option 'shards' must be an int, got '$raw'")
      }
      require(n > 0, s"graftsink: option 'shards' must be positive, got $n")
      n
    }
    // STREAMING_WRITE surface: the same staged-commit shape keyed by
    // (queryId, epochId) — exactly-once without foreachBatch (q365)
    def streaming: StreamingWrite = {
      GraftSink.checkSchema(schema)
      new GraftSinkStreamingWrite(path, schema, queryId, doTruncate)
    }
    // IDENTITY-PARTITIONED table (durable _props state from CREATE
    // TABLE ... PARTITIONED BY): the write DECLARES a clustered
    // distribution on the partition columns — Spark inserts the hash
    // shuffle, so each partition tuple lands in exactly one writer
    // task, which routes its rows into one staged file PER TUPLE and
    // records the tuple as the file's manifest `part:` segment (the
    // pruning index the read side consults).
    val partCols = GraftSink.partitionColsOf(path)
    if (partCols.nonEmpty) {
      require(clusterBy.isEmpty,
        "graftsink: clusterBy is not supported on a partitioned table " +
          "(the partition layout owns file routing)")
      require(branch.isEmpty,
        "graftsink: branch writes into a partitioned table are not supported yet")
      partCols.foreach(c => require(schema.fieldNames.contains(c),
        s"graftsink: partition column '$c' missing from the write schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
      val partIdx = partCols.map(schema.fieldIndex).toArray
      return new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          Distributions.clustered(partCols.map(Expressions.identity).toArray)
        override def requiredNumPartitions(): Int = shards.getOrElse(0)
        override def requiredOrdering(): Array[VSortOrder] = Array.empty
        override def toBatch: BatchWrite = {
          GraftSink.checkSchema(schema)
          new GraftSinkPartitionedBatchWrite(path, schema, queryId, doTruncate,
            partCols, partIdx, None, dynamicOverwrite, replaceWhere)
        }
        override def toStreaming: StreamingWrite = {
          require(!dynamicOverwrite && replaceWhere.isEmpty,
            "graftsink: streaming writes support append/complete only")
          GraftSink.checkSchema(schema)
          new GraftSinkStreamingWrite(path, schema, queryId,
            doTruncate, partCols, partIdx)
        }
      }
    }
    require(!dynamicOverwrite,
      "graftsink: dynamic partition overwrite requires an identity-partitioned " +
        "table (an unpartitioned/bucketed table has no partition tuples to replace)")
    require(replaceWhere.isEmpty,
      "graftsink: overwrite-by-filter requires an identity-partitioned table")
    // BUCKET-partitioned table (PARTITIONED BY (bucket(n, col))): same
    // partitioned write machinery, but files are routed and tagged by
    // the portable md5 bucket of the column, not its raw value. The
    // write clusters by the COLUMN (identity): every raw value lands in
    // one task, a bucket may span tasks → several files per bucket, all
    // tagged — pruning is per-file, so that costs nothing.
    val bucketSpec = GraftSink.bucketSpecOf(path)
    if (bucketSpec.isDefined) {
      val (bc, n) = bucketSpec.get
      require(clusterBy.isEmpty,
        "graftsink: clusterBy is not supported on a bucketed table " +
          "(the bucket layout owns file routing)")
      require(branch.isEmpty,
        "graftsink: branch writes into a bucketed table are not supported yet")
      require(schema.fieldNames.contains(bc),
        s"graftsink: bucket column '$bc' missing from the write schema " +
          s"(${schema.fieldNames.mkString(", ")})")
      val partIdx = Array(schema.fieldIndex(bc))
      return new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          Distributions.clustered(Array(Expressions.identity(bc)))
        override def requiredNumPartitions(): Int = shards.getOrElse(0)
        override def requiredOrdering(): Array[VSortOrder] = Array.empty
        override def toBatch: BatchWrite = {
          GraftSink.checkSchema(schema)
          new GraftSinkPartitionedBatchWrite(path, schema, queryId, doTruncate,
            Seq(bc), partIdx, Some(n))
        }
        override def toStreaming: StreamingWrite =
          throw new UnsupportedOperationException(
            "graftsink: streaming writes into a bucketed table are not " +
              "supported yet (use foreachBatch)")
      }
    }
    clusterBy match {
      case Some(colName) =>
        require(branch.isEmpty,
          "graftsink: 'toBranch' cannot combine with 'clusterBy'")
        require(schema.fieldNames.contains(colName),
          s"graftsink: clusterBy column '$colName' not in write schema " +
            s"(${schema.fieldNames.mkString(", ")})")
        // clustered writes on a BIGINT column record per-file min/max
        // stats in the manifest — the file-skipping index read-side
        // range predicates prune against (most useful with
        // layout=range, where files are contiguous key ranges)
        val statsCols = Some(colName)
          .filter(c => schema(schema.fieldIndex(c)).dataType == LongType)
          .toSeq
        // layout=range requests an ORDERED (range) distribution: files
        // become contiguous, non-overlapping key ranges — the layout
        // that makes min/max skipping exact. Default "hash" clusters
        // by hash (key-disjoint files, but ranges overlap).
        val layout = Option(options.get("layout")).getOrElse("hash")
        require(layout == "hash" || layout == "range",
          s"graftsink: option 'layout' must be hash or range, got '$layout'")
        def batch: BatchWrite = {
          GraftSink.checkSchema(schema)
          new GraftSinkBatchWrite(path, schema, queryId, doTruncate, statsCols)
        }
        new Write with RequiresDistributionAndOrdering {
          override def requiredDistribution(): Distribution =
            if (layout == "range")
              Distributions.ordered(Array(
                Expressions.sort(Expressions.identity(colName), SortDirection.ASCENDING)))
            else Distributions.clustered(Array(Expressions.identity(colName)))
          override def requiredNumPartitions(): Int = shards.getOrElse(0)
          override def requiredOrdering(): Array[VSortOrder] =
            Array(Expressions.sort(Expressions.identity(colName), SortDirection.ASCENDING))
          override def toBatch: BatchWrite = batch
          override def toStreaming: StreamingWrite = streaming
        }
      case None =>
        require(shards.isEmpty,
          "graftsink: option 'shards' requires 'clusterBy' (a partition count " +
            "without a distribution would repartition arbitrarily)")
        // `statsCols=c1,c2,...` (all BIGINT): record per-file min/max
        // envelopes for several columns WITHOUT a clustered
        // distribution — the caller owns the layout (the zorder
        // procedure range-partitions on the Morton code itself), the
        // writer tasks just track what they stream. Stats are computed
        // in-writer: zero extra jobs, zero materialization.
        val statsCols = Option(options.get("statsCols")).toSeq
          .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        statsCols.foreach { c =>
          require(schema.fieldNames.contains(c),
            s"graftsink: statsCols column '$c' not in write schema " +
              s"(${schema.fieldNames.mkString(", ")})")
          require(schema(schema.fieldIndex(c)).dataType == LongType,
            s"graftsink: statsCols columns must be BIGINT, '$c' is " +
              schema(schema.fieldIndex(c)).dataType.sql)
        }
        // `expectedBaseTs=<millis|none>`: seed the replace guard with
        // the base snapshot the CALLER planned this rewrite against
        // (the zorder/compact procedures read table state well before
        // the job's own commit) — the commit then refuses on the FIRST
        // attempt if anything landed in between, instead of silently
        // dropping the interloper's commit from the rewritten snapshot.
        val expectedBase: Option[Option[Long]] =
          Option(options.get("expectedBaseTs")).map {
            case "none" => None
            case raw => Some(raw.toLong)
          }
        new Write {
          override def toBatch: BatchWrite = {
            GraftSink.checkSchema(schema)
            new GraftSinkBatchWrite(path, schema, queryId, doTruncate,
              statsCols, branch, expectedBase)
          }
          override def toStreaming: StreamingWrite = {
            require(branch.isEmpty,
              "graftsink: streaming writes cannot target a branch")
            streaming
          }
        }
    }
  }
}

/** One staged-commit message per successfully committed task; `stats`
  * carries the task file's per-column (col, min, max) of every declared
  * stats BIGINT column — the file-skipping index entries, computed
  * INSIDE the writer task (one pass over the rows it streams anyway;
  * at 100 TB this is what makes stats free vs a second table-sized
  * job). */
case class GraftSinkCommit(stagedFile: String, partitionId: Int, rows: Long,
    stats: Seq[(String, Long, Long)] = Nil)
  extends WriterCommitMessage

/** The staged-commit skeleton every driver-side graftsink commit runs
  * (unpartitioned, partitioned and delta batch writes, and the
  * streaming write): [[publish]] the committed tasks' staged files
  * once, publish the manifest through [[GraftSink.commitManifest]]
  * with the guarded [[plan]], then [[dropStaging]]. A surface adds
  * only what is its own: a branch base, REPLACE WHERE validation and
  * survivor filtering, a delete-vector fold, epoch-replay detection. */
private[graft] object StagedCommit {

  /** How a surface words the two shared refusals (callers match on
    * these texts): the stale-base replace and the append schema
    * mismatch. */
  final case class Wording(replace: String, replaceTail: String,
      append: String, appendTail: String)
  val BatchWording = Wording("a replace",
    " — the replace was computed from a stale snapshot; re-run it",
    "append", " (use overwrite to replace)")
  val StreamWording = Wording("a complete-mode epoch", "", "streaming append", "")
  val DeltaWording = Wording("", "", "delta write", "") // never replaces

  /** 1) PUBLISH: rename every committed task's staged file(s) into the
    * table root as `<prefix>part-<pid>.tsv` (`-<i>` per partition
    * tuple), ONCE, before the commit loop — entries re-plan on a lost
    * slot race, renames don't. The prefix makes names unique per write
    * (`<queryId>-`) or per streaming epoch (`q-<queryId>-e<epoch>-`).
    * `replaceGhost` deletes a file already at the final name first: a
    * crash AFTER the rename but BEFORE the manifest write leaves an
    * unreferenced ghost there, and the replayed epoch must be able to
    * re-publish over it. Each file comes back as its manifest entry
    * with `rows` set; [[plan]] adds the field ids. */
  def publish(path: String, prefix: String, messages: Array[WriterCommitMessage],
      replaceGhost: Boolean = false): Seq[GraftSink.Entry] = {
    val f = GraftSink.fs(path)
    def move(staged: String, fin: String): String = {
      val dest = new HPath(path, fin)
      if (replaceGhost && f.exists(dest)) f.delete(dest, false)
      require(f.rename(new HPath(staged), dest),
        s"graftsink: failed to publish $staged -> $fin")
      fin
    }
    messages.toSeq.flatMap {
      case c: GraftSinkCommit =>
        Seq(GraftSink.Entry(move(c.stagedFile, s"${prefix}part-${c.partitionId}.tsv"),
          stats = c.stats, rows = Some(c.rows)))
      case c: GraftSinkPartitionedCommit =>
        c.files.zipWithIndex.map { case ((staged, part, rows), i) =>
          GraftSink.Entry(move(staged, s"${prefix}part-${c.partitionId}-$i.tsv"),
            rows = Some(rows), part = Some(part))
        }
      case c: GraftSinkDeltaCommit if c.stagedFile.nonEmpty =>
        Seq(GraftSink.Entry(move(c.stagedFile, s"${prefix}part-${c.partitionId}.tsv"),
          rows = Some(c.rows)))
      case _ => Nil
    }
  }

  /** 2) The manifest plan [[GraftSink.commitManifest]] re-runs on every
    * attempt. It re-reads the base (the branch head for a branch write,
    * else main; both CHAIN-ATTRIBUTED, so a racer's claimed-but-not-yet-
    * pointed commit is already visible) each time:
    *  - `guarded` (full or partial replace): REFUSES once the base moves
    *    — which files survive was decided against a snapshot that no
    *    longer is the table. `seed` is the base the caller planned
    *    against (a row-level rewrite's scan, a procedure's
    *    `expectedBaseTs`), so even the FIRST attempt refuses on a
    *    commit that landed in between, not just a retry;
    *  - `replace` (truncate): the entries become the whole table, field
    *    ids reset to positional, the DDL is the write's;
    *  - otherwise an APPEND: the write schema must match the table's
    *    (unless `checkAppend` is off), new entries stamp the table's ids,
    *    `keep` picks the prior lines that survive (all of them by
    *    default; a lost race therefore REBASES onto the interloper's
    *    files), and the table's DDL is kept, widened to nullable where
    *    the write is. */
  def plan(path: String, schema: StructType, published: Seq[GraftSink.Entry],
      wording: Wording, replace: Boolean = false, guarded: Boolean = false,
      seed: Option[Option[Long]] = None, branch: Option[String] = None,
      checkAppend: Boolean = true,
      keep: Option[GraftSink.Manifest] => Seq[String] = _.map(_.files).getOrElse(Nil))
      : () => GraftSink.Manifest = {
    var seenBase = seed
    () => {
      val prior = branch match {
        case Some(b) => GraftSink.branchHead(path, b).orElse(GraftSink.mainHead(path))
        case None => GraftSink.mainHead(path)
      }
      val baseTs = prior.flatMap(_.ts)
      if (guarded && seenBase.exists(_ != baseTs))
        throw new java.util.ConcurrentModificationException(
          s"graftsink: concurrent commit during ${wording.replace} at $path${wording.replaceTail}")
      seenBase = Some(baseTs)
      if (replace)
        GraftSink.Manifest(GraftSink.cleanDdl(schema), published.map(_.line), None)
      else {
        if (checkAppend) prior.foreach { m =>
          require(GraftSink.schemaCompatible(m.ddl, schema),
            s"graftsink: ${wording.append} schema mismatch at $path — table is " +
              s"'${m.ddl}', write is '${schema.toDDL}'${wording.appendTail}")
        }
        val ids = prior.flatMap(_.ids)
        val ddl = prior.fold(GraftSink.cleanDdl(schema))(m => GraftSink.widenedDdl(m.ddl, schema))
        GraftSink.Manifest(ddl, keep(prior) ++ published.map(_.copy(cols = ids).line), ids)
      }
    }
  }

  /** 3) STAGING GC, for commit and abort alike: staged files are
    * invisible to readers, so dropping the tree restores the exact
    * pre-write state. Replaced data files are NOT deleted — older
    * snapshots (`_manifest.vN`) still reference them (time travel); a
    * real table format GCs them by snapshot-expiry policy instead. */
  def dropStaging(path: String, dir: String): Unit =
    GraftSink.fs(path).delete(new HPath(path, s"${GraftSink.STAGING}/$dir"), true)
}

class GraftSinkBatchWrite(path: String, schema: StructType, queryId: String,
    truncate: Boolean, statsCols: Seq[String] = Nil,
    branch: Option[String] = None,
    scanBaseTs: Option[Option[Long]] = None) extends BatchWrite {

  private val statsIdx = statsCols.map(c => (c, schema.fieldIndex(c)))

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftSinkWriterFactory(path, schema, queryId, statsIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val published = StagedCommit.publish(path, s"$queryId-", messages)
    GraftSink.commitManifest(path, branch)(StagedCommit.plan(path, schema, published,
      StagedCommit.BatchWording, replace = truncate, guarded = truncate,
      seed = scanBaseTs, branch = branch))
    StagedCommit.dropStaging(path, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedCommit.dropStaging(path, queryId)
}

class GraftSinkWriterFactory(path: String, schema: StructType, queryId: String,
    statsIdx: Seq[(String, Int)] = Nil)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftSinkRowWriter(path, schema,
      s"$path/${GraftSink.STAGING}/$queryId/part-$partitionId-$taskId.tsv", partitionId,
      statsIdx)
}

/** The shared task-side row writer: streams TSV rows into one staged
  * file, returns (file, partition, rowcount[, column min/max]) as its
  * commit message. Batch and streaming factories differ only in the
  * staged path; `statsIdx` (the declared stats BIGINT columns — the
  * clustered column and/or Z-order dims) turns on the per-file min/max
  * tracking behind the manifest's file-skipping stats. */
class GraftSinkRowWriter(path: String, schema: StructType, staged: String,
    partitionId: Int, statsIdx: Seq[(String, Int)] = Nil) extends DataWriter[InternalRow] {

  private val out = GraftSink.createOut(GraftSink.fs(path), new HPath(staged))
  private val types = schema.fields.map(_.dataType)
  private var n = 0L
  private var skip = -1 // resolved on the first row
  private val sIdx = statsIdx.map(_._2).toArray
  private val sLo = Array.fill(sIdx.length)(Long.MaxValue)
  private val sHi = Array.fill(sIdx.length)(Long.MinValue)

  override def write(row: InternalRow): Unit = {
    if (skip < 0) {
      // Group-based row-level writes (ReplaceData for DELETE/UPDATE/
      // MERGE) arrive with Spark's __row_operation column PREFIXED and
      // un-projected: ReplaceDataExec applies its row projection only
      // when the operation declares metadata attributes (ReplaceDataExec
      // .writingTask), and graftsink has none. Every row of a
      // ReplaceData output is a final table row, so the writer skips
      // the marker and encodes the data columns; any other arity
      // mismatch is a real contract breach and fails loudly.
      skip = row.numFields - types.length
      require(skip == 0 || skip == 1,
        s"graftsink: writer got ${row.numFields}-field rows for a " +
          s"${types.length}-column schema (${schema.toDDL})")
      if (skip == 1) {
        // the skipped field must BE the operation marker, not a shifted
        // data column: a Spark upgrade that appends the marker instead
        // of prefixing it (or changes the projection contract) would
        // otherwise encode every column off by one, silently for
        // type-compatible layouts. Checked once on the first row
        // against Spark's own marker constants.
        import org.apache.spark.sql.catalyst.util.RowDeltaUtils._
        val marker = try row.getInt(0) catch { case _: Throwable => Int.MinValue }
        require(Seq(DELETE_OPERATION, UPDATE_OPERATION, INSERT_OPERATION,
            REINSERT_OPERATION, WRITE_OPERATION, WRITE_WITH_METADATA_OPERATION)
            .contains(marker),
          s"graftsink: expected a prefixed row-operation marker, found $marker " +
            "in field 0 — the ReplaceData row layout changed; refusing to " +
            "encode potentially shifted columns")
      }
    }
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < types.length) {
      if (i > 0) sb.append('\t')
      sb.append(GraftSink.encodeField(types(i), row, i + skip))
      i += 1
    }
    sb.append('\n')
    out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    n += 1
    var j = 0
    while (j < sIdx.length) {
      if (!row.isNullAt(sIdx(j) + skip)) {
        val v = row.getLong(sIdx(j) + skip)
        if (v < sLo(j)) sLo(j) = v
        if (v > sHi(j)) sHi(j) = v
      }
      j += 1
    }
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    GraftSinkCommit(staged, partitionId, n,
      statsIdx.indices.collect {
        case j if sLo(j) <= sHi(j) => (statsIdx(j)._1, sLo(j), sHi(j))
      })
  }
  override def abort(): Unit = {
    // close may flush buffered bytes into a failing stream — the delete
    // below must still run so the staged file never leaks
    try out.close() catch { case _: java.io.IOException => () }
    GraftSink.fs(path).delete(new HPath(staged), false)
  }
  override def close(): Unit = ()
}

// --------------------------------------------------------------------
// PARTITIONED write path (identity transforms → per-tuple files +
// manifest `part:` segments, the read-side pruning index)
// --------------------------------------------------------------------

/** One partitioned task's commit: each element = (staged file, encoded
  * partition tuple, row count). With the clustered distribution the
  * builder requests, each tuple appears in exactly ONE task — so the
  * table ends with one file per partition value per commit. */
case class GraftSinkPartitionedCommit(partitionId: Int,
    files: Seq[(String, String, Long)]) extends WriterCommitMessage

class GraftSinkPartitionedBatchWrite(path: String, schema: StructType,
    queryId: String, truncate: Boolean, partCols: Seq[String],
    partIdx: Array[Int], buckets: Option[Int] = None,
    dynamicOverwrite: Boolean = false,
    replaceWhere: Option[Map[String, Set[String]]] = None,
    scanBaseTs: Option[Option[Long]] = None) extends BatchWrite {

  /** Does a manifest entry's partition tuple satisfy every REPLACE
    * WHERE constraint? (Conjunctive; a missing column never matches.) */
  private def tupleMatches(body: String, allowed: Map[String, Set[String]]): Boolean = {
    val pairs = GraftSink.partPairs(body)
    allowed.forall { case (c, set) => pairs.get(c).exists(set) }
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftSinkPartitionedWriterFactory(path, schema, queryId, partCols, partIdx,
      buckets)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val published = StagedCommit.publish(path, s"$queryId-", messages)
    // REPLACE WHERE validation is WRITE-side, not commit-side: every
    // incoming row's tuple must satisfy the condition, or the statement
    // would silently ADD rows outside the partitions it replaces
    replaceWhere.foreach { allowed =>
      val bad = published.flatMap(_.part).filterNot(tupleMatches(_, allowed))
      require(bad.isEmpty,
        s"graftsink: overwrite-by-filter got rows OUTSIDE the replaced " +
          s"partitions (${bad.distinct.mkString("; ")}) — the condition must " +
          "cover every incoming row")
    }
    val partial = dynamicOverwrite || replaceWhere.isDefined
    // full AND partial replaces refuse on a moved base
    GraftSink.commitManifest(path, None)(StagedCommit.plan(path, schema, published,
      StagedCommit.BatchWording, replace = truncate, guarded = truncate || partial,
      seed = scanBaseTs, keep = { prior =>
        val priorFiles = prior.map(_.files).getOrElse(Nil)
        // a PARTIAL replace (dynamic overwrite / REPLACE WHERE) matches
        // prior files by their CURRENT-spec tuple keys: a file tagged
        // under an OLDER partition generation (set_partitioning) can hold
        // rows of the logically-replaced partitions yet never match —
        // it would silently survive and duplicate the reload. Refuse
        // until those files are rewritten into the current spec.
        // (Untagged pre-partitioning files keep their documented
        // always-survive semantics — they predate ANY spec.)
        lazy val priorParts = priorFiles.map(l => l -> GraftSink.Entry.parse(l).part)
        if (partial) {
          val expected = partCols.toSet
          val alien = priorParts.filter(_._2.exists(b =>
            GraftSink.partPairs(b).keySet != expected))
          require(alien.isEmpty,
            s"graftsink: partial overwrite at $path found ${alien.size} file(s) " +
              "tagged under an older partition spec — rewrite them into the " +
              "current spec (CALL compact) or use a full overwrite")
        }
        if (dynamicOverwrite) {
          // replace EXACTLY the tuples the incoming data touches;
          // untagged (pre-partitioning) entries always survive
          val touched = published.flatMap(_.part).toSet
          priorParts.filterNot(_._2.exists(touched)).map(_._1)
        } else replaceWhere match {
          case Some(allowed) =>
            priorParts.filterNot(_._2.exists(tupleMatches(_, allowed))).map(_._1)
          case None => priorFiles
        }
      }))
    StagedCommit.dropStaging(path, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedCommit.dropStaging(path, queryId)
}

/** The per-task tuple router both partitioned write surfaces share:
  * one staged sub-file per partition tuple (identity value or hash
  * bucket), commit message = every tuple's staged file + row count. */
class GraftSinkTupleRouter(path: String, schema: StructType,
    stagedPrefix: String, partitionId: Int, partCols: Seq[String],
    partIdx: Array[Int], buckets: Option[Int])
  extends DataWriter[InternalRow] {

  private val types = schema.fields.map(_.dataType)
  private val writers =
    scala.collection.mutable.LinkedHashMap.empty[String, GraftSinkRowWriter]
  private var skip = -1
  private var seq = 0

  override def write(row: InternalRow): Unit = {
    if (skip < 0) skip = row.numFields - types.length // marker validated by the sub-writer
    val key = partCols.zip(partIdx).map { case (c, i) =>
      val j = i + math.max(skip, 0)
      val v: Any =
        if (row.isNullAt(j)) null
        else types(i) match {
          case LongType => row.getLong(j)
          case IntegerType => row.getInt(j)
          case _ => row.getUTF8String(j).toString
        }
      buckets match {
        // bucket transform: files tag the PORTABLE hash bucket, not
        // the raw value (one tag per file; several files per bucket
        // are fine — pruning is per-file)
        case Some(n) => s"${GraftSink.bucketKey(c)}=${GraftSink.bucketIdOf(v, n)}"
        case None =>
          s"$c=${if (v == null) "\\N" else GraftSink.encodePartValue(v)}"
      }
    }.mkString(",")
    writers.getOrElseUpdate(key, {
      val w = new GraftSinkRowWriter(path, schema,
        s"$stagedPrefix-$seq.tsv", partitionId)
      seq += 1
      w
    }).write(row)
  }

  override def commit(): WriterCommitMessage =
    GraftSinkPartitionedCommit(partitionId,
      writers.toSeq.map { case (key, w) =>
        val m = w.commit().asInstanceOf[GraftSinkCommit]
        (m.stagedFile, key, m.rows)
      })
  override def abort(): Unit = writers.values.foreach(_.abort())
  override def close(): Unit = ()
}

class GraftSinkPartitionedWriterFactory(path: String, schema: StructType,
    queryId: String, partCols: Seq[String], partIdx: Array[Int],
    buckets: Option[Int] = None)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftSinkTupleRouter(path, schema,
      s"$path/${GraftSink.STAGING}/$queryId/part-$partitionId-$taskId",
      partitionId, partCols, partIdx, buckets)
}

// --------------------------------------------------------------------
// DELTA (merge-on-read) row-level path: delete vectors, not rewrites
// --------------------------------------------------------------------

/** Delta-based row-level operation (SupportsDelta — the merge-on-read
  * half of the row-level story, Iceberg v2 delete files / Delta DVs):
  * instead of rewriting affected files (copy-on-write, the default
  * GraftSinkRowLevelOperation), a DELETE records (file, position)
  * delete vectors in the NEW manifest version and an UPDATE/MERGE is
  * represented as delete + insert (new rows land in ordinary staged
  * files). Data files are NEVER rewritten — at 100 TB a one-row delete
  * costs one manifest line, not a file rewrite; reads pay the DV
  * suppression until `CALL graft.sys.compact` applies and drops them.
  * Row id = the (_file, _pos) metadata columns the scan serves.
  */
class GraftSinkDeltaOperation(path: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftSinkDeltaOperation($cmd, $path)"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val schema = GraftSink.readManifestRaw(path, None) // head-only: ddl
      .map(m => StructType.fromDDL(m.ddl))
      .getOrElse(throw new IllegalArgumentException(
        s"graftsink: no committed table at $path"))
    new GraftSinkScanBuilder(path, schema, None)
  }

  override def newWriteBuilder(
      info: LogicalWriteInfo): org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new org.apache.spark.sql.connector.write.DeltaWrite {
          override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = {
            // a pure DELETE carries NO data columns (DVs only): the
            // write schema is empty and the insert checks don't apply
            if (info.schema().nonEmpty) GraftSink.checkSchema(info.schema())
            new GraftSinkDeltaBatchWrite(path, info.schema(), info.queryId())
          }
        }
    }
}

/** Per-task delta result: optional staged insert file + the task's
  * delete vectors keyed by manifest entry name. */
case class GraftSinkDeltaCommit(stagedFile: String, partitionId: Int,
    rows: Long, deletes: Map[String, Array[Long]]) extends WriterCommitMessage

class GraftSinkDeltaBatchWrite(path: String, schema: StructType, queryId: String)
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new GraftSinkDeltaWriterFactory(path, schema, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // merge the tasks' delete vectors per file
    val delMap = messages.collect { case c: GraftSinkDeltaCommit => c }
      .flatMap(_.deletes.toSeq).groupBy(_._1)
      .map { case (n, xs) => n -> xs.toSeq.flatMap(_._2) }
    // inserts publish like an ordinary append. A lost slot race re-folds
    // the delete vectors onto the NEW base (a concurrent append's files
    // survive untouched; our positions target the same files they
    // always did). If a concurrent REWRITE removed a DV-target file, the
    // unknown-files require refuses the rebase — those positions were
    // computed against rows that no longer exist under that name. A
    // pure DELETE carries no data columns, so there is no schema to
    // check and the table's DDL stands.
    val published = StagedCommit.publish(path, s"$queryId-", messages)
    GraftSink.commitManifest(path, None)(StagedCommit.plan(path, schema, published,
      StagedCommit.DeltaWording, checkAppend = schema.nonEmpty, keep = { base =>
        val prior = base.getOrElse(throw new IllegalStateException(
          s"graftsink: delta commit on empty table at $path"))
        val entries = prior.entries
        val names = entries.map(_.name).toSet
        val unknown = delMap.keys.filterNot(names)
        require(unknown.isEmpty,
          s"graftsink: delete vector targets unknown files: ${unknown.mkString(", ")}")
        // DVs fold into the EXISTING entries (data files untouched);
        // every other segment carries through — rows stay ORIGINAL
        // (counts subtract |dv|), and deletes never widen a min/max
        entries.map(e => e.copy(deletes = e.deletes ++ delMap.getOrElse(e.name, Nil)).line)
      }))
    StagedCommit.dropStaging(path, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    StagedCommit.dropStaging(path, queryId)
}

class GraftSinkDeltaWriterFactory(path: String, schema: StructType, queryId: String)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val dels = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      private var ins: GraftSinkRowWriter = _

      // id row layout = rowId() order: (_file STRING, _pos BIGINT)
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels.getOrElseUpdate(id.getUTF8String(0).toString,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)

      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        throw new UnsupportedOperationException(
          "graftsink delta: updates are represented as delete + insert")

      override def insert(row: InternalRow): Unit = {
        if (ins == null) ins = new GraftSinkRowWriter(path, schema,
          s"$path/${GraftSink.STAGING}/$queryId/part-$partitionId-$taskId.tsv",
          partitionId)
        ins.write(row)
      }

      override def commit(): WriterCommitMessage = {
        val (sf, n) = if (ins == null) ("", 0L) else {
          val m = ins.commit().asInstanceOf[GraftSinkCommit]
          (m.stagedFile, m.rows)
        }
        GraftSinkDeltaCommit(sf, partitionId, n,
          dels.map { case (k, v) => k -> v.toArray }.toMap)
      }
      override def abort(): Unit = if (ins != null) ins.abort()
      override def close(): Unit = ()
    }
}

// --------------------------------------------------------------------
// STREAMING write path (epoch-keyed staged commits, exactly-once)
// --------------------------------------------------------------------

/** The connector's own exactly-once streaming sink (q365; recovery
  * asserted in StreamRecoverySpec): each microbatch stages under
  * `_staging/<queryId>/e<epoch>/`, and `commit(epochId, ...)` is
  * IDEMPOTENT — published file names carry the `q-<queryId>-e<epoch>-`
  * prefix, so a replayed epoch (a restart re-commits the last
  * checkpointed batch) is detected in the manifest and dropped instead
  * of double-published. This moves q285's foreachBatch merge-by-batchId
  * recipe INSIDE the connector, where the Kafka/Delta sinks keep it:
  * the user writes `.writeStream.format("graftsink")` and gets
  * exactly-once without hand-rolled bookkeeping. `queryId` here is the
  * STABLE streaming query id (Spark passes StreamingQuery.id, which
  * survives restarts from the same checkpoint — asserted by the
  * kill/resume spec), so the (queryId, epochId) key is durable.
  * OutputMode complete routes through SupportsTruncate exactly like
  * batch overwrite: each epoch's manifest lists only that epoch's
  * files. With `partCols` (a PARTITIONED table, q397) each task routes
  * rows through the shared [[GraftSinkTupleRouter]], so every published
  * file carries its `part:` tuple — a streamed table prunes exactly
  * like a batch-written one.
  */
class GraftSinkStreamingWrite(path: String, schema: StructType,
    queryId: String, truncate: Boolean, partCols: Seq[String] = Nil,
    partIdx: Array[Int] = Array.empty) extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftSinkStreamingWriterFactory(path, schema, queryId, partCols, partIdx)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val marker = s"q-$queryId-e$epochId-"
    // a replayed epoch (the previous run committed this batch but died
    // before checkpointing the commit) is already in the manifest: only
    // its duplicate staging is dropped
    if (!GraftSink.mainHead(path).exists(_.entries.exists(_.name.startsWith(marker)))) {
      val published = StagedCommit.publish(path, marker, messages, replaceGhost = true)
      // a concurrent BATCH append onto a streamed table rebases cleanly
      // under this epoch's commit (the batch append contract)
      GraftSink.commitManifest(path, None)(StagedCommit.plan(path, schema, published,
        StagedCommit.StreamWording, replace = truncate, guarded = truncate))
    }
    StagedCommit.dropStaging(path, s"$queryId/e$epochId")
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    StagedCommit.dropStaging(path, s"$queryId/e$epochId")
}

class GraftSinkStreamingWriterFactory(path: String, schema: StructType,
    queryId: String, partCols: Seq[String], partIdx: Array[Int])
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val staged = s"$path/${GraftSink.STAGING}/$queryId/e$epochId/part-$partitionId-$taskId"
    if (partCols.isEmpty) new GraftSinkRowWriter(path, schema, s"$staged.tsv", partitionId)
    else new GraftSinkTupleRouter(path, schema, staged, partitionId, partCols, partIdx, None)
  }
}

// --------------------------------------------------------------------
// READ path (manifest-resolved, one InputPartition per committed file)
// --------------------------------------------------------------------

class GraftSinkScanBuilder(path: String, full: StructType,
    version: Option[Int] = None,
    runtimeFiltering: Boolean = true,
    grouped: Boolean = false,
    filesSubset: Option[Set[String]] = None)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  // conjunctive per-column [lo, hi] envelopes from pushed range
  // predicates — consulted against manifest stats for FILE SKIPPING
  private var envelopes = Map.empty[String, (Long, Long)]
  // allowed ENCODED values per partition column from pushed equality/IN
  // predicates — consulted against manifest `part:` segments (exact
  // directory-grain pruning; conjunctive = set intersection).
  // CURRENT spec ∪ PAST generations: after set_partitioning, files
  // written under an old spec keep their tags, and a predicate on an
  // old partition column still prunes them exactly (new-gen files
  // lack the tag and pass through — pruning per generation)
  private val partCols =
    (GraftSink.partitionColsOf(path) ++ GraftSink.partitionHistoryOf(path)).toSet
  private val bucketSpec = GraftSink.bucketSpecOf(path)
  private var partAllowed = Map.empty[String, Set[String]]
  private var countPushed = false

  private def allowPart(c: String, vs: Seq[Any]): Unit = {
    val enc = vs.map(v => if (v == null) "\\N" else GraftSink.encodePartValue(v)).toSet
    partAllowed += c -> partAllowed.get(c).fold(enc)(_ intersect enc)
  }

  /** Bucket pruning: a pushed equality/IN on the bucket column maps
    * each value through the portable hash to its bucket id — the
    * allowed-set then prunes against the files' `bucket(col)=k` tags
    * exactly like identity pruning (range predicates can't prune a
    * hash layout and are left alone). */
  private def allowBucket(c: String, n: Int, vs: Seq[Any]): Unit = {
    val enc = vs.map(v => GraftSink.bucketIdOf(v, n)).toSet
    val k = GraftSink.bucketKey(c)
    partAllowed += k -> partAllowed.get(k).fold(enc)(_ intersect enc)
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** METADATA-ONLY count(*): a global unfiltered COUNT is answered as
    * Σ(rows − |dv|) straight from the manifest — zero data files opened
    * (the parquet-footer / Iceberg-manifest count shape; `rows:` is
    * recorded by every commit and DVs subtract exactly). Pushed only
    * when EVERY entry carries a row count (tables written before the
    * segment existed fall back to scanning), no filter narrows the
    * rows — Spark only attempts aggregate pushdown when all filters
    * were themselves pushed, and this scan pushes none — and the read
    * covers the WHOLE manifest: a `files` subset scan must count only
    * its named entries, so it falls through to the row-scan path. */
  private def canPushCount(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar] &&
      envelopes.isEmpty &&
      filesSubset.isEmpty &&
      // RAW read: on a grouped manifest the chunk summaries' vrows
      // answer for their members, so the capability check (like the
      // count itself) never opens a chunk file
      GraftSink.readManifestRaw(path, version)
        .exists(m => m.files.forall(l =>
          if (GraftSink.isGroupLine(l)) GraftSink.groupVisibleRows(l).isDefined
          else GraftSink.Entry.parse(l).rows.isDefined))

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    canPushCount(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!canPushCount(agg)) false
    else { countPushed = true; true }
  }

  private def narrow(c: String, lo: Long, hi: Long): Unit = {
    val (l0, h0) = envelopes.getOrElse(c, (Long.MinValue, Long.MaxValue))
    envelopes += c -> (math.max(l0, lo), math.min(h0, hi))
  }

  /** File-skipping: range/equality predicates on BIGINT columns narrow
    * the per-column envelope consulted against the manifest's per-file
    * stats at partition planning — whole files whose [min, max] misses
    * the envelope are never planned (the parquet row-group/Iceberg
    * manifest-stats pruning shape). EVERY filter comes back as a
    * residual: stats prune files, not rows, so Spark still evaluates
    * the predicate over the survivors — pruning is an optimization,
    * never a correctness transfer. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    filters.foreach { f =>
      f match {
        case GreaterThan(c, v: Long)        => narrow(c, v + 1, Long.MaxValue)
        case GreaterThanOrEqual(c, v: Long) => narrow(c, v, Long.MaxValue)
        case LessThan(c, v: Long)           => narrow(c, Long.MinValue, v - 1)
        case LessThanOrEqual(c, v: Long)    => narrow(c, Long.MinValue, v)
        case EqualTo(c, v: Long)            => narrow(c, v, v)
        case _ => ()
      }
      f match {
        case EqualTo(c, v) if partCols(c) => allowPart(c, Seq(v))
        case In(c, vs) if partCols(c)     => allowPart(c, vs.toSeq)
        case EqualTo(c, v) if bucketSpec.exists(_._1 == c) =>
          allowBucket(c, bucketSpec.get._2, Seq(v))
        case In(c, vs) if bucketSpec.exists(_._1 == c) =>
          allowBucket(c, bucketSpec.get._2, vs.toSeq)
        case _ => ()
      }
    }
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty // nothing is enforced exactly by the scan

  override def build(): Scan =
    if (countPushed) new GraftSinkCountScan(path, version)
    else {
      val s = new GraftSinkScan(path, full, required, version, envelopes,
        partAllowed, grouped, filesSubset)
      s.allowRuntimeFiltering = runtimeFiltering
      s
    }
}

/** Completely-pushed-down count(*) "scan": one partition, one row,
  * the value = Σ(rows − |dv|) over the manifest — no data file is ever
  * opened (q305's metadata-row shape, now on the write-side table). */
class GraftSinkCountScan(path: String, version: Option[Int])
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  private def total: Long = {
    // RAW read: group summaries carry exact visible-row totals, so the
    // count on a grouped (million-file) table reads ONE manifest list
    // and zero chunk files
    val m = GraftSink.readManifestRaw(path, version).getOrElse(
      throw new IllegalArgumentException(s"graftsink: no committed table at $path"))
    m.files.map { l =>
      if (GraftSink.isGroupLine(l))
        GraftSink.groupVisibleRows(l).getOrElse(
          throw new IllegalStateException(
            s"graftsink: count pushdown on a group without vrows: $l"))
      else
        GraftSink.Entry.parse(l).live.getOrElse(
          throw new IllegalStateException(
            s"graftsink: count pushdown on an entry without rows: $l"))
    }.sum
  }

  override def readSchema(): StructType =
    new StructType().add("count_star", LongType, nullable = false)
  override def toBatch: Batch = this
  override def description(): String = s"GraftSinkCountScan($path)"

  /** One row, eight bytes — reported so joins against the metadata
    * count broadcast it instead of degenerating to a cartesian. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(8L)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(1L)
    }
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftSinkCountPartition(total))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow = new GenericInternalRow(
            Array[Any](p.asInstanceOf[GraftSinkCountPartition].n))
          override def close(): Unit = ()
        }
    }
}

case class GraftSinkCountPartition(n: Long) extends InputPartition

class GraftSinkScan(path: String, full: StructType, required: StructType,
    version: Option[Int] = None,
    envelopes: Map[String, (Long, Long)] = Map.empty,
    partAllowed: Map[String, Set[String]] = Map.empty,
    grouped: Boolean = false,
    filesSubset: Option[Set[String]] = None)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  def this(path: String, full: StructType, required: StructType,
      version: Option[Int]) = this(path, full, required, version, Map.empty)
  def this(path: String, full: StructType, required: StructType) =
    this(path, full, required, None)

  // --- runtime (dynamic) partition pruning -------------------------
  // Spark's DPP hands over the join-key values observed on the
  // broadcast side AFTER that side executed but BEFORE this scan's
  // partitions are planned (BatchScanExec.filteredPartitions re-plans
  // post-filter): `col IN (v...)` on a partition column intersects
  // into the allowed-set the planner consults — at 100 TB a star join
  // keyed on the partition column scans only the dimension's
  // partitions, with no predicate in the query text. An optimization,
  // never a correctness transfer (the join still filters rows).
  private val partitionCols = GraftSink.partitionColsOf(path)
  private val bucketSpecRt = GraftSink.bucketSpecOf(path)
  // DPP prunes by current AND past-generation identity columns (the
  // grouped-scan key stays CURRENT-spec-only — partitionCols above)
  private val pruneCols =
    (partitionCols ++ GraftSink.partitionHistoryOf(path)).distinct
  @volatile private var runtimeAllowed = Map.empty[String, Set[String]]

  /** Row-level operations OPT OUT (set false): the COW write replaces
    * the WHOLE snapshot, so a group-filtered rewrite scan (Spark's
    * RowLevelOperationRuntimeGroupFiltering narrows the scan to
    * matched groups when the scan is runtime-filterable) would commit
    * only the matched partitions and silently DROP the rest — caught
    * by q379's oracle the moment DPP landed. Plain reads keep it. */
  private[sources] var allowRuntimeFiltering: Boolean = true

  /** Post-execution spec hook: the runtime-received allowed-sets. */
  def runtimeFilters: Map[String, Set[String]] = runtimeAllowed

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (allowRuntimeFiltering)
      (pruneCols ++ bucketSpecRt.map(_._1)).map(Expressions.column).toArray
    else Array.empty // empty ⇒ Spark never invokes filter()

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        p.children()(0) match {
          case nr: org.apache.spark.sql.connector.expressions.NamedReference
              if nr.fieldNames().length == 1 &&
                pruneCols.contains(nr.fieldNames()(0)) =>
            val c = nr.fieldNames()(0)
            val vals = p.children().drop(1).collect {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value() != null =>
                GraftSink.encodePartValue(l.value())
            }.toSet
            runtimeAllowed += c -> runtimeAllowed.get(c).fold(vals)(_ intersect vals)
          case nr: org.apache.spark.sql.connector.expressions.NamedReference
              if nr.fieldNames().length == 1 &&
                bucketSpecRt.exists(_._1 == nr.fieldNames()(0)) =>
            // runtime values on the BUCKET column map through the hash —
            // DPP prunes a bucketed fact to the dim's observed buckets
            val c = GraftSink.bucketKey(nr.fieldNames()(0))
            val n = bucketSpecRt.get._2
            val vals = p.children().drop(1).collect {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value() != null =>
                GraftSink.bucketIdOf(l.value(), n)
            }.toSet
            runtimeAllowed += c -> runtimeAllowed.get(c).fold(vals)(_ intersect vals)
          case _ => ()
        }
      }
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSinkScan($path, cols=${required.fieldNames.mkString(",")}" +
      (if (envelopes.isEmpty) "" else s", skip=${envelopes.mkString(",")}") +
      (if (partAllowed.isEmpty) ")"
       else s", partprune=${partAllowed.keys.mkString(",")})")

  private lazy val manifest: GraftSink.Manifest =
    GraftSink.readManifestRaw(path, version).getOrElse(
      throw new IllegalArgumentException(s"graftsink: no committed table at $path"))

  /** The SURVIVING manifest entries after stats-envelope file skipping
    * and partition pruning. On a GROUPED manifest (the two-level
    * metadata tree) pruning runs at the GROUP grain first: a group
    * whose pvals/stats summary cannot match is never even READ —
    * planning a pruned query on a million-file table touches only the
    * matching groups' chunk files, the Iceberg-manifest-tree shape. */
  private def plannedEntries: Seq[GraftSink.Entry] = {
    val m = manifest
    val allowed = (partAllowed.toSeq ++ runtimeAllowed.toSeq)
      .groupBy(_._1).map { case (c, vs) => c -> vs.map(_._2).reduce(_ intersect _) }
    // FILE SKIPPING: a file whose recorded [min, max] misses the
    // pushed envelope for that column is never planned (files with
    // no stats, or stats on other columns, always survive). EVERY
    // recorded per-column envelope must overlap its pushed envelope —
    // a Z-ordered file (stats on both interleaved dims) is skippable
    // by a predicate on EITHER column.
    def statsOk(stats: Seq[(String, Long, Long)]): Boolean =
      stats.forall { case (col, lo, hi) =>
        envelopes.get(col) match {
          case Some((elo, ehi)) => hi >= elo && lo <= ehi
          case None => true
        }
      }
    // PARTITION PRUNING: a file whose part: tuple misses any pushed
    // (compile-time) or runtime-received (DPP) allowed-set is never
    // planned — exact (every row in the file shares the tuple), so
    // this is the directory-grain prune; files without a tuple
    // (unpartitioned history) survive
    def partOk(e: GraftSink.Entry): Boolean =
      allowed.isEmpty || (e.part match {
        case Some(body) =>
          val pairs = GraftSink.partPairs(body)
          allowed.forall { case (c, set) => pairs.get(c).forall(set) }
        case None => true
      })
    def entryOk(e: GraftSink.Entry): Boolean = statsOk(e.stats) && partOk(e)
    // GROUP pruning mirrors both rules against the summary (built as a
    // conservative superset of its members — see groupSummary): a
    // group survives unless a pushed constraint provably excludes
    // EVERY member.
    def groupOk(line: String): Boolean = {
      val sOk = statsOk(GraftSink.Entry.statsOf(line)) // same stats: grammar
      val pv = GraftSink.groupPartVals(line)
      val pOk = allowed.forall { case (c, set) =>
        pv.get(c).forall(vs => (vs intersect set).nonEmpty)
      }
      sOk && pOk
    }
    filesSubset match {
      // explicit file-subset planning (option `files`): restrict to
      // the named entries, refusing unknown names LOUDLY — a
      // silently-ignored typo would read as "file already sketched/
      // maintained". Subsets name data files, so groups fully expand.
      case Some(sub) =>
        val all = m.files.flatMap(l =>
          if (GraftSink.isGroupLine(l))
            GraftSink.readGroup(path, GraftSink.groupLineName(l))
          else Seq(l)).map(GraftSink.Entry.parse)
        val missing = sub -- all.map(_.name)
        require(missing.isEmpty,
          s"graftsink: option 'files' names entries not in the snapshot: " +
            s"${missing.toSeq.sorted.mkString(", ")}")
        all.filter(e => sub(e.name) && entryOk(e))
      case None =>
        m.files.flatMap { l =>
          if (GraftSink.isGroupLine(l)) {
            if (!groupOk(l)) Nil
            else GraftSink.readGroup(path, GraftSink.groupLineName(l))
              .map(GraftSink.Entry.parse).filter(entryOk)
          } else Some(GraftSink.Entry.parse(l)).filter(entryOk)
        }
    }
  }

  /** Post-pruning size estimate from REAL file lengths (manifest files
    * statused once at planning), scaled by the column-pruning ratio —
    * what lets Catalyst auto-broadcast a small (or well-pruned) sink
    * side with no hint, exactly like graftseq's reported stats (q312).
    * numRows is the EXACT post-pruning row count Σ(rows − |dv|) when
    * every planned entry carries a `rows:` segment (every commit
    * records one — the table-stats surface an ANALYZE would provide,
    * served straight from the manifest); absent on pre-segment tables,
    * where a fabricated number would mislead the planner worse than
    * none. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val f = GraftSink.fs(path)
    val entries = plannedEntries
    val raw = entries.map { e =>
      val p = new HPath(path, e.name)
      if (f.exists(p)) f.getFileStatus(p).getLen else 0L
    }.sum
    val ratio =
      if (full.fields.isEmpty) 1.0
      else math.max(1, required.fields.length).toDouble / full.fields.length
    val bytes = math.max(1L, (raw * ratio).toLong)
    val rows: java.util.OptionalLong = GraftSink.Entry.liveRows(entries)
      .filter(_ => entries.nonEmpty)
      .fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    // ANALYZE-computed per-column NDV/null-count (q389) — served ONLY
    // when the stored stats describe exactly what this scan reads: the
    // stats' snapshot must BE the scan's snapshot (any later commit
    // stales them) and no file skipping / partition pruning may be
    // active (pruning shrinks the served rows; the whole-snapshot NDV
    // would then overstate — conservative refusal beats a wrong hint).
    val colStats: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      val pruned = envelopes.nonEmpty || partAllowed.nonEmpty || runtimeAllowed.nonEmpty
      if (!pruned) GraftSink.readColStats(path).foreach { case (v, stats) =>
        val current = version.getOrElse(GraftSink.listVersions(path).lastOption.getOrElse(-1))
        if (v == current) {
          val wanted = required.fieldNames.toSet
          stats.foreach { case (name, ndv, nulls) =>
            if (wanted(name)) out.put(Expressions.column(name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(ndv)
                override def nullCount(): java.util.OptionalLong =
                  java.util.OptionalLong.of(nulls)
              })
          }
        }
      }
      out
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  private def requiredIds: Array[Int] =
    GraftSink.requiredIds(required, full, GraftSink.manifestIds(manifest),
      GraftSink.ROW_ID_SENTINELS)

  override def planInputPartitions(): Array[InputPartition] = {
    // id → ordinal resolved PER FILE at planning (renames/drops make the
    // table-schema position diverge from the file ordinal; `cols:`
    // entries carry each file's actual layout)
    val reqIds = requiredIds
    val files = plannedEntries.map { e =>
      (GraftSinkFilePartition(s"$path/${e.name}", e.name, e.deletes.toArray,
        GraftSink.fileOrdinals(reqIds, e.cols)),
        e.part)
    }
    if (!grouped) files.map(_._1: InputPartition).toArray
    else {
      // KEY-GROUPED: one InputPartition per partition TUPLE (all the
      // tuple's files ride together), each reporting its typed key —
      // what lets EnsureRequirements plan a co-partitioned join with
      // ZERO exchange on this side (SPJ). Untagged files (pre-partition
      // history) are illegal here: their rows have no key.
      val tagged = files.groupBy(_._2.getOrElse(throw new IllegalStateException(
          "graftsink: grouped scan over an untagged (pre-partitioning) file")))
        .toSeq.sortBy(_._1)
      bucketSpecRt match {
        case Some((bc, _)) =>
          // BUCKET layout: the tuple key is the TRANSFORM's output —
          // the portable md5_mod bucket id (IntegerType), never the
          // raw column value; the `\N` null-routing bucket reports a
          // null key (what Spark's own bucket transform yields on
          // null input). Both sides of a same-(n, col) join hash
          // through the identical kernel, so equal ids ⇔ equal key
          // sets and the SMJ needs no exchange.
          tagged.map { case (body, members) =>
            val enc = GraftSink.partPairs(body).getOrElse(GraftSink.bucketKey(bc),
              throw new IllegalStateException(
                s"graftsink: grouped scan over a file tagged under a different " +
                  s"partition generation ('$body' lacks ${GraftSink.bucketKey(bc)}) — " +
                  "rewrite it into the current spec (CALL compact) first"))
            val key: Any = if (enc == "\\N") null else enc.toInt
            GraftSinkTuplePartition(members.map(_._1).toArray,
              new GenericInternalRow(Array(key))): InputPartition
          }.toArray
        case None =>
          val partTypes = partitionCols
            .map(c => full(full.fieldIndex(c)).dataType).toArray
          tagged.map { case (body, members) =>
            val pairs = GraftSink.partPairs(body)
            val key = partitionCols.zip(partTypes).map { case (c, dt) =>
              // a file tagged under an OLDER spec has no key for the
              // current columns — its rows cannot ride a key-grouped
              // partition; refuse exactly like the untagged case
              GraftSink.decodePartValue(dt, pairs.getOrElse(c,
                throw new IllegalStateException(
                  s"graftsink: grouped scan over a file tagged under a " +
                    s"different partition generation ('$body' lacks '$c') — " +
                    "rewrite it into the current spec (CALL compact) first")))
            }.toArray
            GraftSinkTuplePartition(members.map(_._1).toArray,
              new GenericInternalRow(key)): InputPartition
          }.toArray
      }
    }
  }

  /** SPJ surface: a grouped scan DECLARES its output value-grouped on
    * the partition columns; a non-grouped (or empty) scan reports the
    * key-less contract Spark assumes anyway. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    if (grouped) {
      val n = planInputPartitions().length
      if (n > 0) {
        // identity layout → identity transforms over the partition
        // columns; bucket layout → the bucket(n, col) transform, which
        // Spark resolves through the catalog's `bucket` function
        // (GraftCatalog.BucketBound) to check both join sides hash
        // compatibly (same canonical kernel, same bucket count)
        val exprs = bucketSpecRt match {
          case Some((bc, b)) => Array(Expressions.bucket(b, bc)
            : org.apache.spark.sql.connector.expressions.Expression)
          case None => partitionCols.map(c => Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression).toArray
        }
        return new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          exprs, n)
      }
    }
    new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
      math.max(1, planInputPartitions().length))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSinkReaderFactory(required.fields.map(_.dataType), {
      val defs = GraftSink.columnDefaults(path)
      required.fields.map(f => defs.get(f.name)
        .map(GraftSink.defaultCatalystValue(f.dataType, _)).orNull): Array[Any]
    })

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    throw new IllegalArgumentException(
      "graftsink: streaming read serves the CHANGE FEED — set option " +
        "'changesFrom' (0 = full history) to stream snapshot deltas")
}

case class GraftSinkFilePartition(file: String, name: String = "",
    deletes: Array[Long] = Array.empty,
    srcIdx: Array[Int] = Array.empty) extends InputPartition

/** One partition TUPLE's files as a single key-reporting partition —
  * the storage-partitioned-join unit. */
case class GraftSinkTuplePartition(files: Array[GraftSinkFilePartition],
    key: InternalRow) extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

// --------------------------------------------------------------------
// CHANGELOG read path (incremental version-range scan + change stream)
// --------------------------------------------------------------------

/** Changelog scan builder: serves the delta between snapshot `from`
  * (exclusive) and `to` (inclusive; None = latest) as rows tagged with
  * `_change` (insert/delete) and `_commit_version`. Column pruning
  * reaches the TSV parse exactly like the plain scan. */
class GraftSinkChangelogScanBuilder(path: String, full: StructType,
    from: Int, to: Option[Int])
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftSinkChangelogScan(path, full, required, from, to)
}

/** The changelog scan: one InputPartition per (file, commit) change
  * unit, planned ENTIRELY from the immutable `_manifest.vN` metadata —
  * a week's changelog reads the week's files, never a full-table diff
  * (q114's reconcile costs two full scans; this costs the delta). Batch
  * serves the whole (from, to] range at once; `toMicroBatchStream`
  * serves the SAME partitions version-by-version with snapshot numbers
  * as offsets — the readStream surface over sink commits. */
class GraftSinkChangelogScan(path: String, full: StructType,
    required: StructType, from: Int, to: Option[Int])
  extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSinkChangelogScan($path, from=v$from, to=${to.fold("latest")(v => s"v$v")}, " +
      s"cols=${required.fieldNames.mkString(",")})"

  /** Field ids against the RANGE-END schema; the change pair are two
    * more connector-served sentinels. */
  private def requiredIds: Array[Int] = {
    val data = StructType(full.fields.filterNot(f =>
      f.name == GraftSink.CHANGE_COL || f.name == GraftSink.CHANGE_VERSION_COL))
    val tableIds = GraftSink.readManifestRaw(path, to) // head-only: ids
      .map(GraftSink.manifestIds)
      .getOrElse(1 to data.length)
    GraftSink.requiredIds(required, data, tableIds, GraftSink.ROW_ID_SENTINELS ++
      Map(GraftSink.CHANGE_COL -> -3, GraftSink.CHANGE_VERSION_COL -> -4))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val end = to.orElse(GraftSink.listVersions(path).lastOption).getOrElse(
      throw new IllegalArgumentException(
        s"graftsink: no committed snapshots at $path"))
    val reqIds = requiredIds
    GraftSink.changelog(path, from, end).map { c =>
      GraftSinkChangePartition(s"$path/${c.name}", c.name, c.commitVersion,
        c.change, c.skipDeletes, c.onlyPositions,
        GraftSink.fileOrdinals(reqIds, c.cols))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSinkChangeReaderFactory(required.fields.map(_.dataType))

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftSinkChangelogStream(path, required.fields.map(_.dataType),
      requiredIds, from)
}

case class GraftSinkChangePartition(file: String, name: String,
    commitVersion: Int, change: String, skipDeletes: Array[Long],
    onlyPositions: Array[Long], srcIdx: Array[Int] = Array.empty)
  extends InputPartition

/** Changelog row reader: survivors mode (all rows except the skip
  * list — inserts of an added file, deletes of a removed one) or
  * positions mode (ONLY the listed positions — the delete-vector diff).
  * Both walk the file once with a sorted-pointer merge, no per-row set
  * lookups. */
class GraftSinkChangeReaderFactory(types: Array[DataType])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftSinkChangePartition]
    val srcIdx = p.srcIdx // per-file ordinals (field-id resolved at planning)
    val fileName = UTF8String.fromString(p.name)
    val change = UTF8String.fromString(p.change)
    val version = p.commitVersion.toLong
    val skips = p.skipDeletes  // ascending (Entry.line sorts)
    val onlys = p.onlyPositions // ascending by construction
    val positionsMode = onlys.nonEmpty
    new PartitionReader[InternalRow] {
      private val in = new BufferedReader(new InputStreamReader(
        GraftSink.openIn(GraftSink.fs(p.file), new HPath(p.file)), StandardCharsets.UTF_8))
      private var line: String = _
      private var pos = -1L
      private var si = 0 // skip-list pointer
      private var oi = 0 // only-list pointer

      override def next(): Boolean = {
        while (true) {
          if (positionsMode && oi >= onlys.length) return false
          line = in.readLine()
          if (line == null) return false
          pos += 1
          if (positionsMode) {
            if (onlys(oi) == pos) { oi += 1; return true }
          } else {
            if (si < skips.length && skips(si) == pos) si += 1
            else return true
          }
        }
        false
      }
      override def get(): InternalRow = {
        val fields = GraftSink.splitLine(line)
        val vals = new Array[Any](types.length)
        var i = 0
        while (i < types.length) {
          vals(i) = srcIdx(i) match {
            case -1 => fileName
            case -2 => pos
            case -3 => change
            case -4 => version
            case j if j >= fields.length => null // pre-evolution short line
            case j => GraftSink.decodeField(types(i), fields(j))
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = in.close()
    }
  }
}

/** Snapshot numbers ARE the stream offsets. */
case class GraftVersionOffset(v: Int)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** MicroBatchStream over sink commits: each microbatch serves the
  * changelog of the snapshots committed since the last batch (offset =
  * snapshot number, durable in the checkpoint — restart resumes at the
  * exact commit boundary). AvailableNow drains to the latest snapshot
  * and stops; a live trigger keeps tailing new commits. This is the
  * "consume the table's changelog" surface: downstream state (q285's
  * merge, q95's incremental agg) feeds off deltas without ever
  * re-scanning the table. */
class GraftSinkChangelogStream(path: String, types: Array[DataType],
    reqIds: Array[Int], from: Int)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {

  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftVersionOffset(from)

  override def latestOffset(): Offset =
    GraftVersionOffset(math.max(from,
      GraftSink.listVersions(path).lastOption.getOrElse(0)))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    GraftSink.changelog(path, s, e).map { c =>
      GraftSinkChangePartition(s"$path/${c.name}", c.name, c.commitVersion,
        c.change, c.skipDeletes, c.onlyPositions,
        GraftSink.fileOrdinals(reqIds, c.cols))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftSinkChangeReaderFactory(types)

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class GraftSinkReaderFactory(types: Array[DataType],
    defaults: Array[Any] = Array.empty)
  extends PartitionReaderFactory {

  // per-required-column back-fill for files predating the column:
  // its stored default when one exists, else NULL
  private val fill: Array[Any] =
    if (defaults.nonEmpty) defaults else new Array[Any](types.length)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case t: GraftSinkTuplePartition =>
        // a tuple partition chains its member files through one reader
        new PartitionReader[InternalRow] {
          private var i = 0
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            while (true) {
              if (cur == null) {
                if (i >= t.files.length) return false
                cur = fileReader(t.files(i)); i += 1
              }
              if (cur.next()) return true
              cur.close(); cur = null
            }
            false
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
      case f: GraftSinkFilePartition => fileReader(f)
    }

  private def fileReader(p: GraftSinkFilePartition): PartitionReader[InternalRow] = {
    val file = p.file
    val fileName = UTF8String.fromString(p.name)
    val srcIdx = p.srcIdx // per-file ordinals (field-id resolved at planning)
    val dels = p.deletes // ascending by construction (Entry.line sorts)
    new PartitionReader[InternalRow] {
      private val in = new BufferedReader(new InputStreamReader(
        GraftSink.openIn(GraftSink.fs(file), new HPath(file)), StandardCharsets.UTF_8))
      private var line: String = _
      private var pos = -1L   // original file position (stable row id)
      private var di = 0      // next delete-vector pointer

      override def next(): Boolean = {
        while (true) {
          line = in.readLine()
          if (line == null) return false
          pos += 1
          // suppress delete-vector positions (merge-on-read)
          if (di < dels.length && dels(di) == pos) di += 1
          else return true
        }
        false
      }
      override def get(): InternalRow = {
        val fields = GraftSink.splitLine(line)
        val vals = new Array[Any](types.length)
        var i = 0
        while (i < types.length) {
          vals(i) = srcIdx(i) match {
            case -1 => fileName
            case -2 => pos
            // files written BEFORE an ALTER TABLE ADD COLUMNS carry
            // fewer fields; added columns back-fill their INITIAL
            // DEFAULT when one was declared, else NULL (columns are
            // only ever appended, so ordinals never shift)
            case j if j >= fields.length => fill(i)
            case j => GraftSink.decodeField(types(i), fields(j))
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = in.close()
    }
  }
}
