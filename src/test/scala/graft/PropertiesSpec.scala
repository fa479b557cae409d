package graft

import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.{Ev, Sess, SessState}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}

/** SURVEY.md §5's planned ScalaCheck layer: generated-input invariants
  * that fixture-based specs can't reach — edge shapes (empty frames,
  * constant columns, exact gap boundaries, arbitrary microbatch splits)
  * are produced by generators instead of being hand-picked.
  *
  * Split in two: [[SessionFoldProps]] is pure (no Spark jobs, default
  * 100 samples); [[SparkQueryProps]] drives the REAL shipped query
  * functions over generated corpora staged as parquet (5 samples each —
  * every sample is a full Spark pipeline).
  */
object SessionFoldProps extends Properties("sessionize-fold") {

  private val gapUs = StatefulSessions.gapUs

  /** Per-user event streams built from GAPS, not raw timestamps, so the
    * >30-min boundary itself is a first-class generated value: gap = 0
    * (duplicate ts), gap = gapUs (must NOT close — the rule is strictly
    * greater), gap = gapUs + 1 (must close), and generic in/out values.
    */
  private val genEvents: Gen[List[Ev]] = for {
    n <- Gen.choose(0, 40)
    gaps <- Gen.listOfN(n, Gen.oneOf(
      Gen.const(0L), Gen.const(gapUs), Gen.const(gapUs + 1),
      Gen.choose(1L, gapUs), Gen.choose(gapUs + 1, 3 * gapUs)))
  } yield gaps.scanLeft(1000000L)(_ + _).zipWithIndex
    .map { case (ts, i) => Ev(7L, ts, i.toLong) }

  /** Independent derivation of the session partition: split the sorted
    * event list wherever the strict >gap rule fires (list-recursive
    * span-splitting, a different formulation than the fold's running
    * state machine). */
  private def refSplit(evs: List[Ev]): List[List[Ev]] = evs match {
    case Nil => Nil
    case first :: _ =>
      val (sess, rest) = {
        var cur = List(first); var rem = evs.tail
        while (rem.nonEmpty && rem.head.ts_us - cur.head.ts_us <= gapUs)
          { cur ::= rem.head; rem = rem.tail }
        (cur.reverse, rem)
      }
      sess :: refSplit(rest)
  }

  property("fold emission equals the independent span-split reference") =
    forAllNoShrink(genEvents) { evs =>
      val (st, out) = StatefulSessions.fold(7L, SessState(-1L, -1L, 0L, 0L), evs)
      val ref = refSplit(evs)
      val refClosed = ref.dropRight(1).zipWithIndex.map { case (ss, i) =>
        Sess(7L, i + 1L, ss.length.toLong, ss.last.ts_us - ss.head.ts_us)
      }
      val openOk = ref.lastOption match {
        case None => st.n == 0L
        case Some(ss) => st.n == ss.length.toLong &&
          st.start == ss.head.ts_us && st.last == ss.last.ts_us
      }
      (out == refClosed) :| s"closed: $out vs $refClosed" &&
        openOk :| s"open state: $st vs ${ref.lastOption}"
    }

  /** The recovery-critical property: folding the stream in ANY
    * consecutive microbatch chunking, threading state across chunks,
    * must emit exactly what one single-batch fold emits — this is what
    * makes checkpoint resume (state restored, remaining tranches
    * replayed) equivalent to an uninterrupted run. */
  property("fold is invariant under arbitrary microbatch chunking") =
    forAllNoShrink(for {
      evs <- genEvents
      cuts <- Gen.listOf(Gen.choose(0, evs.length))
    } yield (evs, cuts.distinct.sorted)) { case (evs, cuts) =>
      val bounds = (0 +: cuts :+ evs.length).distinct.sorted
      val chunks = bounds.sliding(2).map { case Seq(a, b) => evs.slice(a, b) }.toList
      val (stWhole, outWhole) = StatefulSessions.fold(7L, SessState(-1L, -1L, 0L, 0L), evs)
      val (stChunked, outChunked) = chunks.foldLeft((SessState(-1L, -1L, 0L, 0L), List.empty[Sess])) {
        case ((st, acc), chunk) =>
          val (st2, out) = StatefulSessions.fold(7L, st, chunk)
          (st2, acc ++ out)
      }
      (outChunked == outWhole) :| "chunked emission differs" &&
        (stChunked == stWhole) :| "chunked final state differs"
    }

  property("event conservation and contiguous session ids") =
    forAllNoShrink(genEvents) { evs =>
      val (st, out) = StatefulSessions.fold(7L, SessState(-1L, -1L, 0L, 0L), evs)
      val closedBoundaries = evs.zip(evs.drop(1)).count { case (a, b) => b.ts_us - a.ts_us > gapUs }
      (out.map(_.n_events).sum + st.n == evs.length.toLong) :| "event count not conserved" &&
        (out.length == closedBoundaries) :| "one closed session per strict >gap boundary" &&
        (out.map(_.sess_id) == (1L to out.length.toLong).toList) :| "sess ids not 1..k" &&
        out.forall(_.dur_us >= 0L) :| "negative duration"
    }
}

/** Generated-corpus invariants of the shipped dedup / similarity /
  * correlation operators — each sample stages a corpus as parquet and
  * calls the REAL `SparkEntry.queries` functions (not reimplementations).
  */
object SparkQueryProps extends Properties("graft-queries") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  // the same session as SharedSpark/prod — whichever suite builds the
  // JVM-wide session first must install the extensions (getOrCreate
  // ignores the builder's extensions for an existing session)
  private lazy val spark = Sessions.local(4)

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta")

  /** Small vocab + short docs ⇒ exact duplicates and shared shingles
    * are common, exercising the non-trivial dedup paths. */
  private def genDocs(minWords: Int, maxWords: Int): Gen[List[(Long, String, String, String, Long)]] =
    for {
      n <- Gen.choose(2, 30)
      texts <- Gen.listOfN(n, for {
        k <- Gen.choose(minWords, maxWords)
        ws <- Gen.listOfN(k, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
    } yield texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", s"src${i % 3}", t.length.toLong)
    }

  /** Stage rows as a documents.parquet tree and hand the dir to `body`. */
  private def withDocsDir(rows: List[(Long, String, String, String, Long)])(body: String => Prop): Prop = {
    import spark.implicits._
    val dir = ops.Stage.fresh("prop_docs")
    try {
      rows.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      body(dir.toString)
    } finally ops.Stage.release(dir)
  }

  private def rerunOnSurvivors(dir: String, survivorIds: Set[Long]): String = {
    // stage the dedup output (original rows filtered to survivors) as a
    // second corpus — idempotence means the second pass finds nothing
    val surv = Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id").isInCollection(survivorIds))
    val dir2 = ops.Stage.fresh("prop_docs2")
    surv.coalesce(1).write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    dir2.toString
  }

  property("q39/q54/q100 exact-dedup family is idempotent") =
    forAllNoShrink(genDocs(0, 8)) { rows =>
      withDocsDir(rows) { dir =>
        // q39: keep-first by text
        val r39 = SparkEntry.queries("q39_dedup_exact")(spark, dir).collect()
        val d39 = r39.map(_.getAs[Long]("doc_id")).toSet
        val dir39 = rerunOnSurvivors(dir, d39)
        val r39b = SparkEntry.queries("q39_dedup_exact")(spark, dir39).collect()
        val p39 = (r39.map(_.getAs[Long]("copies")).sum == rows.length.toLong) :| "q39 copies must sum to corpus size" &&
          (r39b.map(_.getAs[Long]("doc_id")).toSet == d39) :| "q39 second pass changed the survivor set" &&
          r39b.forall(_.getAs[Long]("copies") == 1L) :| "q39 second pass still sees duplicates"

        // q54: canonical-fingerprint clustering, survivor = min_doc
        val r54 = SparkEntry.queries("q54_fingerprint")(spark, dir).collect()
        val d54 = r54.map(_.getAs[Long]("min_doc")).toSet
        val dir54 = rerunOnSurvivors(dir, d54)
        val r54b = SparkEntry.queries("q54_fingerprint")(spark, dir54).collect()
        val p54 = (r54b.map(_.getAs[String]("fp")).toSet == r54.map(_.getAs[String]("fp")).toSet) :| "q54 fingerprint set changed" &&
          r54b.forall(_.getAs[Long]("n_docs") == 1L) :| "q54 second pass still sees clusters"

        // q100: keep-best by quality within fingerprint cluster
        val r100 = SparkEntry.queries("q100_keep_best")(spark, dir).collect()
        val d100 = r100.map(_.getAs[Long]("survivor")).toSet
        val dir100 = rerunOnSurvivors(dir, d100)
        val r100b = SparkEntry.queries("q100_keep_best")(spark, dir100).collect()
        val p100 = (r100b.map(_.getAs[Long]("survivor")).toSet == d100) :| "q100 second pass changed the survivor set" &&
          r100b.forall(_.getAs[Long]("cluster_size") == 1L) :| "q100 second pass still sees clusters"

        p39 && p54 && p100
      }
    }

  property("q40 near-dup pairs respect Jaccard bounds and pair ordering") =
    forAllNoShrink(genDocs(5, 12)) { rows =>
      withDocsDir(rows) { dir =>
        val pairs = SparkEntry.queries("q40_dedup_near")(spark, dir).collect()
        Prop.all(pairs.map { r =>
          val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
          val (inter, na, nb) = (r.getAs[Long]("inter"), r.getAs[Long]("na"), r.getAs[Long]("nb"))
          val j = r.getAs[Double]("jaccard")
          (a < b) :| s"pair not ordered: $a,$b" &&
            (inter >= 1L && inter <= math.min(na, nb)) :| s"inter out of range: $inter vs $na,$nb" &&
            (j > 0.0 && j <= 1.0) :| s"jaccard out of (0,1]: $j" &&
            (math.abs(j - inter.toDouble / (na + nb - inter)) < 1e-6) :| s"jaccard != inter/union: $j"
        }.toSeq: _*)
      }
    }

  /** Stage rows as an events.parquet tree (TIMESTAMP-µs generation —
    * exercises Tables.events' TimestampType branch under the UTC
    * session) and hand the dir to `body`. */
  private def withEventsDir(rows: List[(Long, java.sql.Timestamp, Long, String, Double, String)])(body: String => Prop): Prop = {
    import spark.implicits._
    val dir = ops.Stage.fresh("prop_events")
    try {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      body(dir.toString)
    } finally ops.Stage.release(dir)
  }

  private val channels = Vector("view", "click", "signup")

  /** Users with generated channel subsets + conversion flags — one
    * event per touched channel, one purchase per converter. */
  private def genTouches: Gen[List[(Long, Set[String], Boolean)]] = for {
    n <- Gen.choose(2, 25)
    us <- Gen.listOfN(n, for {
      set <- Gen.someOf(channels)
      conv <- Gen.oneOf(true, false)
    } yield (set.toSet, conv))
  } yield us.zipWithIndex.map { case ((set, conv), i) => (i.toLong, set, conv) }

  private def touchRows(us: List[(Long, Set[String], Boolean)]): List[(Long, java.sql.Timestamp, Long, String, Double, String)] = {
    var eid = 0L
    us.flatMap { case (u, set, conv) =>
      (set.toSeq.sorted ++ (if (conv) Seq("purchase") else Nil)).map { t =>
        eid += 1
        (eid, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, t, 1.0, "")
      }
    }
  }

  property("q266 Shapley credits are efficient on generated coalition structures") =
    forAllNoShrink(genTouches) { us =>
      val rows = touchRows(us)
      if (rows.isEmpty) Prop.passed
      else withEventsDir(rows) { dir =>
        val r = SparkEntry.queries("q266_shapley_attribution")(spark, dir).collect()
        val phiSum = r.map(_.getAs[Double]("phi")).sum
        val (vf, vb) = (r.head.getAs[Double]("v_full"), r.head.getAs[Double]("v_base"))
        (r.length == 3) :| s"3 channel rows, got ${r.length}" &&
          (math.abs(phiSum - (vf - vb)) < 1e-4) :|
            f"efficiency: sum(phi)=$phiSum%.6f vs v_full-v_base=${vf - vb}%.6f" &&
          // channel-independent conversion (v_full == v_base) has no
          // credit to split: share must be NULL, never a throw
          (vf != vb || r.forall(_.isNullAt(r.head.fieldIndex("share")))) :|
            "degenerate structure (v_full == v_base) must yield NULL shares"
      }
    }

  property("q252 KMV Jaccard is EXACT whenever the union fits the sketch (n <= 64)") =
    forAllNoShrink(for {
      nTypes <- Gen.choose(2, 4)
      sets <- Gen.listOfN(nTypes, Gen.nonEmptyListOf(Gen.choose(1L, 40L)).map(_.toSet))
    } yield sets) { sets =>
      val types = sets.indices.map(i => s"t$i")
      var eid = 0L
      val rows = sets.zipWithIndex.flatMap { case (s0, i) =>
        s0.toSeq.map { u =>
          eid += 1
          (eid, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, types(i), 1.0, "")
        }
      }.toList
      withEventsDir(rows) { dir =>
        val r = SparkEntry.queries("q252_kmv_jaccard")(spark, dir).collect()
        Prop.all(r.map { row =>
          val est = row.getAs[Double]("est_jaccard")
          val ex = row.getAs[Double]("exact_jaccard")
          (math.abs(est - ex) < 1e-6) :|
            s"${row.getAs[String]("ta")}/${row.getAs[String]("tb")}: est $est != exact $ex with full-union sketch"
        }.toSeq: _*)
      }
    }

  property("q258 context sweep conserves tokens and truncation is monotone on generated corpora") =
    forAllNoShrink(genDocs(0, 40)) { rows =>
      withDocsDir(rows) { dir =>
        val r = SparkEntry.queries("q258_context_sweep")(spark, dir).collect()
        val conserved = Prop.all(r.map { row =>
          (row.getAs[Long]("toks_kept") + row.getAs[Long]("toks_lost") ==
            row.getAs[Long]("toks_total")) :| s"kept+lost != total at ctx ${row.getAs[Int]("ctx_len")}"
        }.toSeq: _*)
        val truncs = r.sortBy(_.getAs[Int]("ctx_len")).map(_.getAs[Long]("docs_truncated"))
        conserved && (truncs.toSeq == truncs.sortBy(-_).toSeq) :| s"docs_truncated not monotone: ${truncs.toSeq}"
      }
    }

  property("one-pass Welford corr agrees with built-in corr and stays in [-1,1]") =
    forAllNoShrink(for {
      n <- Gen.choose(0, 60)
      xs <- Gen.listOfN(n, Gen.oneOf(Gen.choose(-1e3, 1e3), Gen.const(5.0)))
      ys <- Gen.listOfN(n, Gen.oneOf(Gen.choose(-1e3, 1e3), Gen.const(2.0)))
    } yield xs.zip(ys)) { pts =>
      import org.apache.spark.sql.functions.{col, corr, udaf}
      import org.apache.spark.sql.{Encoders, Row}
      import spark.implicits._
      val cu = udaf(graft.functions.CorrAggregator,
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
      val df = pts.toDF("x", "y")
      val ra: Row = df.agg(cu(col("x"), col("y")).as("a")).head()
      def undefA: Boolean = ra.isNullAt(0) || ra.getDouble(0).isNaN
      // the BUILT-IN corr THROWS under ANSI on a zero-variance column
      // (CorrAggregatorSpec pins this); the UDAF must yield NaN/NULL
      // there instead of diverging silently
      val rb: Either[Throwable, Row] =
        try Right(df.agg(corr(col("x"), col("y")).as("b")).head())
        catch { case e: ArithmeticException => Left(e) } // SparkArithmeticException (DIVIDE_BY_ZERO)
      rb match {
        case Left(_) =>
          undefA :| s"builtin corr threw (zero variance) but udaf gave ${ra}"
        case Right(row) =>
          def undefB: Boolean = row.isNullAt(0) || row.getDouble(0).isNaN
          if (undefA || undefB)
            (undefA && undefB) :| s"one side undefined, other not: udaf=$ra builtin=$row"
          else {
            val (a, b) = (ra.getDouble(0), row.getDouble(0))
            (math.abs(a - b) < 1e-6) :| s"udaf $a vs builtin $b" &&
              (a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9) :| s"corr out of [-1,1]: $a"
          }
      }
    }

  private val b1Us = 1704931200000000L // q81's first tranche boundary, µs
  private val b2Us = 1705795200000000L
  private val sessGapUs = StatefulSessions.gapUs

  /** Multi-user µs-precise event streams anchored AROUND the streaming
    * tranche boundaries, with the same boundary-valued gap distribution
    * as [[SessionFoldProps]] — sessions that straddle a microbatch cut
    * are the generated norm, not a lucky accident. */
  private def genStreamEvents: Gen[List[Ev]] = for {
    nUsers <- Gen.choose(1, 3)
    perUser <- Gen.listOfN(nUsers, for {
      anchor <- Gen.oneOf(b1Us - 45L * 60 * 1000000, b2Us - 45L * 60 * 1000000,
        b1Us - 3L * 3600 * 1000000)
      n <- Gen.choose(1, 25)
      gaps <- Gen.listOfN(n - 1, Gen.oneOf(
        Gen.const(0L), Gen.const(sessGapUs), Gen.const(sessGapUs + 1),
        Gen.choose(1L, sessGapUs), Gen.choose(sessGapUs + 1, 3 * sessGapUs)))
    } yield (anchor, gaps))
  } yield perUser.zipWithIndex.flatMap { case ((anchor, gaps), u) =>
    gaps.scanLeft(anchor)(_ + _).zipWithIndex
      .map { case (ts, i) => Ev(u.toLong + 1, ts, u.toLong * 1000 + i) }
  }

  private def usTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The batch≡stream bridge the recovery suite assumes: the REAL q81
    * streaming pipeline (tranche staging, state store, AvailableNow
    * microbatches) over a generated stream must emit exactly what one
    * single-shot fold over the whole stream emits. The pure fold is
    * itself proven against an independent span-split reference in
    * [[SessionFoldProps]], so this property pins the MACHINERY, not the
    * state arithmetic. */
  property("q81 streaming sessionizer equals the one-shot batch fold on generated streams") =
    forAllNoShrink(genStreamEvents) { evs =>
      val rows = evs.map(e =>
        (e.event_id, usTimestamp(e.ts_us), e.user_id, "view", 1.0, ""))
      withEventsDir(rows) { dir =>
        val got = SparkEntry.queries("q81_stream_sessionize")(spark, dir).collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_id"),
            r.getAs[Long]("n_events"), r.getAs[Long]("dur_us"))).toList.sorted
        val expect = evs.groupBy(_.user_id).toList.flatMap { case (u, es) =>
          val sorted = es.sortBy(e => (e.ts_us, e.event_id))
          val (_, out) = StatefulSessions.fold(u, SessState(-1L, -1L, 0L, 0L), sorted)
          out.map(s0 => (s0.user_id, s0.sess_id, s0.n_events, s0.dur_us))
        }.sorted
        (got == expect) :| s"stream emitted $got, batch fold closed $expect"
      }
    }
}

/** Merge algebra of the KMV sketch (pure, no Spark jobs): persisting
  * per-partition/per-day sketches and unioning them later is only sound
  * if merge is commutative, associative, chunking-invariant, and lands
  * on the exact bottom-k of the distinct hash set — all four generated
  * here (the fixture specs only check one split).
  */
object KmvMergeProps extends Properties("kmv-merge") {

  import graft.functions.{KmvAggregator => K}

  private val genHashes: Gen[List[Long]] = for {
    n <- Gen.choose(0, 300)
    // small value range ⇒ duplicates are common (the DISTINCT path);
    // mixed with full-range hashes for the generic path
    hs <- Gen.listOfN(n, Gen.oneOf(Gen.choose(0L, 99L), Gen.choose(0L, (1L << 60) - 1)))
  } yield hs

  private def sk(hs: Seq[Long]) = hs.foldLeft(K.zero)(K.reduce)

  property("merge is commutative") =
    forAllNoShrink(genHashes, genHashes) { (a, b) =>
      K.merge(sk(a), sk(b)).hs.toList == K.merge(sk(b), sk(a)).hs.toList
    }

  property("merge is associative") =
    forAllNoShrink(genHashes, genHashes, genHashes) { (a, b, c) =>
      K.merge(K.merge(sk(a), sk(b)), sk(c)).hs.toList ==
        K.merge(sk(a), K.merge(sk(b), sk(c))).hs.toList
    }

  property("any chunking merges to the exact bottom-k of the distinct set") =
    forAllNoShrink(for {
      hs <- genHashes
      cuts <- Gen.listOf(Gen.choose(0, hs.length))
    } yield (hs, cuts.distinct.sorted)) { case (hs, cuts) =>
      val bounds = (0 +: cuts :+ hs.length).distinct.sorted
      // collect, not map: an empty hs with cuts=[0] gives a single bound,
      // and sliding(2) then yields one SHORT window — skip it (zero chunks)
      val merged = bounds.sliding(2).collect { case Seq(x, y) => sk(hs.slice(x, y)) }
        .foldLeft(K.zero)(K.merge)
      val ref = hs.distinct.sorted.take(K.k)
      (merged.hs.toList == ref) :|
        s"chunk-merged ${merged.hs.toList.take(5)}... vs reference ${ref.take(5)}..."
    }
}
