package graft.ops

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search scale paths beyond the brute-force baseline
  * (q41) and the LSH bucketing (q55): an IVF-style coarse-quantizer
  * search and LSH-bucketed embedding near-dup pairs — the two shapes a
  * 100 TB vector pipeline actually runs (search a cell, not the
  * corpus; compare within buckets, never all-pairs).
  *
  * Determinism: centroid coords and every distance/similarity are
  * rounded to 6 dp before any ranking or thresholding, and all in-row
  * folds accumulate left-to-right in double — identical in DuckDB's
  * list arithmetic (same recipe that oracle-matches q41/q42/q55).
  */
object Vectors extends QueryPack {

  // native codegen'd expression (graft.functions.SquaredDistance): same
  // left-to-right double accumulation as the aggregate(zip_with(..)) HOF
  // fold it replaced, but fused and whole-stage-codegen'd (HOFs run
  // interpreted and allocate a zipped array per row)
  private val sqdist = "sq_dist(%s, %s)"

  /** Per-label mean vectors, coords rounded — the k-means INIT (k=10).
    * Labels seed the codebook deterministically; the codebook q61
    * searches is the TRAINED one (see [[trainedCodebook]]). */
  private def centroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)").as("cvec"))
      .select(col("label").as("clabel"), col("cvec"))

  /** Nearest-centroid assignment of `vecs` against codebook (cid, cvec):
    * one broadcast of k×dim + a per-vector partitioned window. */
  private def assign(vecs: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    vecs.crossJoin(broadcast(cent))
      .withColumn("d2", round(expr(sqdist.format("embedding", "cvec")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "cvec")
  }

  /** Lloyd recompute: mean vector per assigned cell, coords rounded. */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(round(avg(col("x").cast("double")), 6).as("c"))
      .groupBy(col("cid"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)").as("cvec"))

  /** The k-means-TRAINED codebook (one Lloyd iteration from the label-
    * mean init) — what a real IVF index build produces; q61 searches
    * these cells, so no ground-truth label leaks into the index.
    * Materialized via localCheckpoint (k×dim rows): both the probe and
    * corpus assignment branches of q61 consume it (unmaterialized, each
    * branch would re-run the two corpus-wide training scans). Unlike
    * `cache()`, checkpoint blocks are released by the ContextCleaner
    * when the plan is GC'd, so repeated invocations (two Bench passes,
    * Verify, specs on one session) don't grow the cache manager.
    *
    * MEMOIZED per (session, sfDir): training is deterministic (rounded
    * centroids, md5 seeds), so q61 + q65 and Bench's min-of-2 passes
    * share one training run instead of re-scanning the corpus each
    * invocation. The retained value is one k×dim checkpointed frame —
    * bounded, unlike the unbounded cache()-per-invocation leak this
    * replaced in round 4. A stopped session's stale entry is never
    * reused (Memo keys on the live session object, weakly) and becomes
    * collectable with its session. */
  private def trainedCodebook(s: SparkSession, dir: String): DataFrame =
    Memo.perSession(s, s"trainedCodebook|$dir") {
      val e = Tables.embeddings(s, dir)
      val cent0 = centroids(s, dir).select(col("clabel").as("cid"), col("cvec"))
      recompute(assign(e, cent0)).localCheckpoint()
    }

  /** PQ index artifacts — the 4 per-block trained sub-codebooks and the
    * corpus code table (vec_id, c0..c3, err0..err3) they imply — built
    * once per (session, sfDir) and shared by q89 (encoding dump) and
    * q142 (search). At 100 TB both are PERSISTED index tables (the code
    * table is the ~64×-compressed index a billion-vector deploy ships);
    * here localCheckpoint stands in for that materialization, and the
    * memo mirrors [[trainedCodebook]]'s: deterministic training,
    * weakly session-keyed, shared across Bench's min-of-2 passes. */
  private def pqArtifacts(s: SparkSession, dir: String): (DataFrame, Seq[DataFrame]) =
    Memo.perSession(s, s"pqArtifacts|$dir") {
      val e = Tables.embeddings(s, dir)
      val blocks = (0 until 4).map { b =>
        val sub = e.select(col("vec_id"), col("label"),
          slice(col("embedding"), b * 16 + 1, 16).as("embedding"))
          .localCheckpoint() // init + 2 assigns + recompute all consume it
        val init = sub
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("label"), col("pos"))
          .agg(round(avg(col("x").cast("double")), 6).as("c"))
          .groupBy(col("label"))
          .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)").as("cvec"))
          .select(col("label").as("cid"), col("cvec"))
        val trained = recompute(assign(sub, init)).localCheckpoint()
        (assign(sub, trained)
          .select(col("vec_id"), col("cid").as(s"c$b"), col("d2").as(s"err$b")), trained)
      }
      val codes = blocks.map(_._1).reduce(_.join(_, "vec_id")).localCheckpoint()
      (codes, blocks.map(_._2))
    }

  /** Min-root, path-compressed union-find over long ids — the state of
    * the HDBSCAN Kruskal reducers (q370, q396, q381), one instance per
    * cell, memory O(ids seen). */
  private final class UnionFind {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }

    /** Join the sets of `a` and `b` (the larger root points at the
      * smaller); false when they already were one set. */
    def union(a: Long, b: Long): Boolean = {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      ra != rb
    }

    /** Every id seen, with its root. */
    def roots: Iterator[(Long, Long)] = parent.keysIterator.map(v => v -> find(v))
  }

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // IVF search, nprobe=1: probe → nearest codebook cell → exact top-3
    // within that cell only. The scan is |cell| vectors instead of N —
    // the inverted-file contraction. The codebook is k-means TRAINED
    // (q65's machinery), not the label centroids: a real corpus has no
    // labels at index-build time.
    "q61_ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = trainedCodebook(s, dir)
      val a = assign(e, cb).select(col("vec_id"), col("label"),
        col("embedding"), col("cid").as("cell"))
      // probes assigned separately (3 rows × k) so the corpus-wide
      // assignment subtree is built exactly once, not once per branch
      val probes = assign(e.filter(col("vec_id") < 3), cb)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("cid").as("cell"))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("vec_id"))
      a.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("d2", round(expr(sqdist.format("embedding", "p_emb")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("vec_id"), col("label"), col("d2"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // ------------------------------------------------------------------
    // IVF nprobe SWEEP — the recall/cost tuning curve an ANN deploy
    // reads before fixing nprobe (q61 searches at nprobe=1; q271 tunes
    // LSH bandings the same way): for nprobe ∈ {1,2,4,10}, candidates
    // = vectors in the probe's nprobe nearest codebook cells, scored
    // against the EXACT euclidean top-10 (q61's metric). One shared
    // index (memoized trainedCodebook), ONE corpus assignment and ONE
    // candidate frame staged and filtered per level by cell rank —
    // the levels frame is a broadcast 4-row side, never a rescan.
    // nprobe=10 = all cells is the self-certifying row: candidates =
    // the whole corpus, so recall is exactly 1 (Round9jSpec pins it,
    // plus monotonicity of recall and cost in nprobe).
    "q336_ivf_probe_sweep" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = trainedCodebook(s, dir)
      val a = assign(e, cb).select(col("vec_id"), col("cid").as("cell"))
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
        .localCheckpoint() // cell ranking + the truth pass both consume it
      val wc = Window.partitionBy(col("probe_id")).orderBy(col("pd"), col("cid"))
      val cellRank = probes.crossJoin(broadcast(cb))
        .withColumn("pd", round(expr(sqdist.format("p_emb", "cvec")), 6))
        .withColumn("crank", row_number().over(wc))
        .select(col("probe_id"), col("cid").as("cell"), col("crank"))
      val wt = Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("vec_id"))
      val truth = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("d2", round(expr(sqdist.format("embedding", "p_emb")), 6))
        .withColumn("rn", row_number().over(wt))
        .filter(col("rn") <= 10)
        .select(col("probe_id"), col("vec_id"))
        .localCheckpoint() // intersected once per nprobe level
      val cand = a.join(cellRank, "cell")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("crank"))
        .localCheckpoint() // counted + hit-joined at 4 levels
      val levels = s.range(1).select(explode(expr("array(1, 2, 4, 10)")).as("np"))
      val nc = cand.crossJoin(broadcast(levels))
        .filter(col("crank") <= col("np"))
        .groupBy(col("np"), col("probe_id")).agg(count(lit(1)).as("n_cand"))
      val nh = truth.join(cand, Seq("probe_id", "vec_id"))
        .crossJoin(broadcast(levels))
        .filter(col("crank") <= col("np"))
        .groupBy(col("np"), col("probe_id")).agg(count(lit(1)).as("n_hit"))
      levels.crossJoin(broadcast(probes.select(col("probe_id"))))
        .join(nc, Seq("np", "probe_id"), "left")
        .join(nh, Seq("np", "probe_id"), "left")
        .groupBy(col("np"))
        .agg(count(lit(1)).as("n_probes"),
          sum(coalesce(col("n_cand"), lit(0L))).as("total_cand"),
          sum(coalesce(col("n_hit"), lit(0L))).as("total_hits"))
        .selectExpr("np", "n_probes", "total_cand", "total_hits",
          "round(cast(total_cand as double) / n_probes, 6) AS mean_cand",
          "round(cast(total_hits as double) / (n_probes * 10.0d), 6) AS mean_recall_at_10")
        .orderBy(col("np"))
    }),

    // ------------------------------------------------------------------
    // kNN-distance outlier scoring (k=5) within IVF cells — the
    // embedding-space data-cleaning read (q93 flags value outliers by
    // MAD; vectors need a DENSITY read: a point far from even its 5th
    // neighbor is a mislabeled/garbage embedding): distance to the
    // 5th-nearest same-cell neighbor, top-10 most isolated. The cell
    // pre-partition bounds the pair cost exactly like q339 (SemDeDup's
    // contract — grow k with N); vectors in cells too small for 5
    // neighbors are excluded (documented positivity of the score, not
    // silently scored against fewer neighbors). Distances round 6 dp
    // pre-rank; per-vector rank windows are partitioned (scale-safe);
    // the rank-10 window rides the 10-row TakeOrdered tail.
    "q349_knn_outliers" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = trainedCodebook(s, dir)
      val a = assign(e, cb).select(col("vec_id"), col("embedding"), col("cid").as("cell"))
        .localCheckpoint() // both sides of the within-cell self-join
      val w = Window.partitionBy(col("vec_id")).orderBy(col("nd"), col("nbr"))
      val knn5 = a.join(
          a.select(col("cell"), col("vec_id").as("nbr"), col("embedding").as("nemb")),
          "cell")
        .filter(col("nbr") =!= col("vec_id"))
        .withColumn("nd", round(expr(sqdist.format("embedding", "nemb")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 5)
        .select(col("vec_id"), col("cell"), col("nd").as("knn5_dist"))
      knn5.orderBy(col("knn5_dist").desc, col("vec_id")).limit(10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("knn5_dist").desc, col("vec_id"))))
        .select(col("rk"), col("vec_id"), col("cell"), col("knn5_dist"))
        .orderBy(col("rk"))
    }),

    // ------------------------------------------------------------------
    // Per-dimension mutual information feature ranking — which
    // embedding dimensions carry label signal (the feature-selection
    // readout q117's two-column MI never generalizes): each dim's
    // values quantize into 4 equal-width bins from the per-dim global
    // [min,max] (one broadcast bounds frame), MI_d = Σ_{b,l} p ln(p/
    // (p_b p_l)) over the (dim, bin, label) contraction — 64×4×|label|
    // cells regardless of corpus size; per-cell terms quantize
    // DECIMAL(28,12) pre-sum, top-10 dims via TakeOrderedAndProject.
    // The bin edge uses the SAME least(…,3) clamp in both engines so
    // the max value lands in the top bin, not a phantom 5th.
    "q342_mi_dims" -> ((s, dir) => {
      val x = Tables.embeddings(s, dir)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
        .select(col("label"), (col("pos") + 1).as("d"),
          col("xf").cast("double").as("x"))
      val bounds = x.groupBy(col("d"))
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val cells = x.join(broadcast(bounds), "d")
        .withColumn("bin", expr(
          "least(cast(floor((x - lo) / ((hi - lo) / 4.0d)) as int), 3)"))
        .groupBy(col("d"), col("bin"), col("label"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // marginals + joint terms share it
      val nTot = cells.groupBy(col("d")).agg(sum(col("c")).as("n"))
      val pb = cells.groupBy(col("d"), col("bin")).agg(sum(col("c")).as("cb"))
      val pl = cells.groupBy(col("d"), col("label")).agg(sum(col("c")).as("cl"))
      cells.join(pb, Seq("d", "bin")).join(pl, Seq("d", "label"))
        .join(broadcast(nTot), "d")
        .withColumn("term", expr(
          "cast((cast(c as double) / n) * ln(cast(c as double) * n / (cast(cb as double) * cl)) as decimal(28,12))"))
        .groupBy(col("d"))
        .agg(max(col("n")).as("n"), sum(col("term")).as("mix"))
        .select(col("d").as("dim"), col("n"),
          round(expr("cast(mix as double)"), 6).as("mi"))
        .orderBy(col("mi").desc, col("dim")).limit(10)
    }),

    // ------------------------------------------------------------------
    // SemDeDup (Abbas et al. 2023) — semantic dedup via
    // WITHIN-CLUSTER cosine: assign every vector to its IVF cell
    // (the shared memoized codebook), compare each vector ONLY to
    // lower-id members of its own cell, and drop it when any cosine
    // ≥ τ=0.35 (keep-lowest-id, the paper's keep-one rule made
    // deterministic). The cluster pre-partition is the whole point at
    // scale: pair cost is Σ|cell|² not N² — the paper's recipe is to
    // grow k with N so cells stay bounded; here k=10 over 500 vecs.
    // Readout = the per-cell dedup bill (kept/dropped/rate) + cell
    // sizes, the artifact a curation run logs before committing τ.
    "q339_semdedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = trainedCodebook(s, dir)
      val a = assign(e, cb).select(col("vec_id"), col("embedding"), col("cid").as("cell"))
        .localCheckpoint() // both pair sides + the per-cell readout
      val dups = a.join(
          a.select(col("cell"), col("vec_id").as("lo_id"), col("embedding").as("lo_emb")),
          "cell")
        .filter(col("lo_id") < col("vec_id"))
        .withColumn("cos", round(expr("cosine_sim(embedding, lo_emb)"), 6))
        .filter(col("cos") >= 0.35)
        .select(col("cell"), col("vec_id")).distinct()
      a.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        .join(dups.groupBy(col("cell")).agg(count(lit(1)).as("n_dup")), Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_dup"), lit(0L)).as("n_dropped"),
          (col("n_vecs") - coalesce(col("n_dup"), lit(0L))).as("n_kept"),
          round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_vecs"), 6).as("drop_rate"))
        .orderBy(col("cell"))
    }),

    // ------------------------------------------------------------------
    // MMR (Maximal Marginal Relevance) re-ranking of a cosine top-20
    // shortlist — the diversity step between retrieval and serving
    // (q41 ranks by pure relevance; near-duplicate hits crowd the top;
    // MMR greedily picks argmax λ·rel − (1−λ)·max-sim-to-selected,
    // λ=0.7, k=5): ONE corpus pass builds the shortlist
    // (TakeOrderedAndProject); the greedy loop is 4 bounded driver-
    // side iterations over ≤20-row broadcast frames (q279's bounded-
    // hop discipline — at ANY corpus size the loop cost is k×shortlist,
    // never data-sized). Similarities round to 6 dp before every argmax
    // so tie-breaks (score desc, vec_id asc) are engine-stable.
    "q338_mmr_rerank" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val q0 = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val shortlist = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q0))
        .withColumn("rel", round(expr("cosine_sim(embedding, q_emb)"), 6))
        .orderBy(col("rel").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("embedding"), col("rel"))
        .localCheckpoint() // consumed by all 5 greedy steps
      var sel = shortlist.orderBy(col("rel").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("embedding"), col("rel"),
          lit(1).as("pick"), round(expr("0.7d * rel"), 6).as("mmr_score"),
          lit(null).cast("double").as("max_sim_prior"))
        .localCheckpoint()
      for (k <- 2 to 5) {
        val prior = sel.select(col("vec_id").as("pid"), col("embedding").as("p_emb"))
        val next = shortlist
          .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
          .crossJoin(broadcast(prior))
          .withColumn("sim", round(expr("cosine_sim(embedding, p_emb)"), 6))
          .groupBy(col("vec_id")).agg(max(col("sim")).as("msim"))
          .join(shortlist, "vec_id")
          .withColumn("score", round(expr("0.7d * rel - 0.3d * msim"), 6))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("embedding"), col("rel"),
            lit(k).as("pick"), col("score").as("mmr_score"),
            col("msim").as("max_sim_prior"))
        sel = sel.union(next).localCheckpoint() // <= 5 rows per step
      }
      sel.select(col("pick"), col("vec_id"), round(col("rel"), 6).as("rel"),
          col("mmr_score"), col("max_sim_prior"))
        .orderBy(col("pick"))
    }),

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup: candidate pairs come from q55's LSH
    // buckets (group-then-expand, never all-pairs), exact cosine via
    // the native codegen'd cosine_sim expression, keep cos ≥ 0.4.
    "q62_dedup_embed" -> ((s, dir) => {
      val p = 1000000007L
      val planes = s.range(0, 8).select(col("id").cast("int").as("j"))
        .crossJoin(s.range(1, 65).select(col("id").cast("int").as("d")))
        .withColumn("w2", expr(
          "2 * (position(substr(md5(cast(concat(cast(j as string), '_', cast(d as string)) as binary)), 1, 1), '0123456789abcdef') - 1) - 15"))
      val buckets = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).as("d"),
          expr("cast(floor(cast(x as double) * 1000000) as bigint)").as("xq"))
        .join(broadcast(planes), "d")
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("xq") * col("w2")).as("dot"))
        .withColumn("bit", expr("CASE WHEN dot >= 0 THEN cast(1 as bigint) ELSE cast(0 as bigint) END"))
        .groupBy(col("vec_id"))
        .agg(sum(expr("shiftleft(bit, j)")).as("bucket"))
        // df-filter + pair join both consume the bucket table; without
        // this the explode+plane-join+two-agg subtree runs per branch
        .localCheckpoint()
      // Hot-bucket guard (same as q40's shingle-df cap): an LSH bucket
      // holding more vectors than the cap is a degenerate blocking key
      // (near-duplicate embeddings of a boilerplate doc at 100 TB) —
      // dropped BEFORE collect_list so no task ever materializes an
      // unbounded list. Observed max bucket = 20 on this corpus.
      val keep = buckets.groupBy(col("bucket"))
        .agg(count(lit(1)).as("k"))
        .filter(col("k") > 1 && col("k") <= Text.maxShingleDf)
        .select(col("bucket"))
      val pairs = buckets.join(keep, "bucket")
        .groupBy(col("bucket"))
        .agg(sort_array(collect_list(col("vec_id"))).as("ds"))
        .select(explode(expr(
          "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), x -> struct(a AS vec_a, x AS vec_b))))")).as("p"))
        .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
      val e = Tables.embeddings(s, dir)
      pairs
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("label").as("label_a")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("label").as("label_b")), "vec_b")
        .withColumn("cos", round(expr("cosine_sim(ea, eb)"), 6))
        .filter(col("cos") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("label_a"), col("label_b"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),
    // ------------------------------------------------------------------
    // HDBSCAN-style mutual-reachability core distances over the LSH
    // bucket graph — the density layer under hierarchical density
    // clustering (Campello/McInnes): core_4(x) = distance to x's 4th-
    // nearest in-bucket neighbor, and every candidate edge is
    // reweighted to mreach(a,b) = max(core_a, core_b, d(a,b)) — the
    // metric whose MST HDBSCAN cuts. Exact all-pairs kNN is quadratic;
    // the scale path is q62's candidate generator verbatim: 8-plane
    // sign-LSH buckets (group-then-expand under the hot-bucket cap,
    // never all-pairs), so core distances are bucket-local — the
    // standard approximate-HDBSCAN contraction for billion-vector
    // corpora. Output = the 20 lowest-mreach edges (the first MST
    // edge candidates), via orderBy+limit → TakeOrderedAndProject.
    "q295_core_distance" -> ((s, dir) => {
      val planes = s.range(0, 8).select(col("id").cast("int").as("j"))
        .crossJoin(s.range(1, 65).select(col("id").cast("int").as("d")))
        .withColumn("w2", expr(
          "2 * (position(substr(md5(cast(concat(cast(j as string), '_', cast(d as string)) as binary)), 1, 1), '0123456789abcdef') - 1) - 15"))
      val buckets = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).as("d"),
          expr("cast(floor(cast(x as double) * 1000000) as bigint)").as("xq"))
        .join(broadcast(planes), "d")
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("xq") * col("w2")).as("dot"))
        .withColumn("bit", expr("CASE WHEN dot >= 0 THEN cast(1 as bigint) ELSE cast(0 as bigint) END"))
        .groupBy(col("vec_id"))
        .agg(sum(expr("shiftleft(bit, j)")).as("bucket"))
        .localCheckpoint() // df-filter + pair join
      val keep = buckets.groupBy(col("bucket"))
        .agg(count(lit(1)).as("k"))
        .filter(col("k") > 1 && col("k") <= Text.maxShingleDf)
        .select(col("bucket"))
      val pairs = buckets.join(keep, "bucket")
        .groupBy(col("bucket"))
        .agg(sort_array(collect_list(col("vec_id"))).as("ds"))
        .select(explode(expr(
          "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), x -> struct(a AS vec_a, x AS vec_b))))")).as("p"))
        .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"))
      val e = Tables.embeddings(s, dir)
      val pd = pairs
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
        .withColumn("d2", round(expr(sqdist.format("ea", "eb")), 6))
        .select(col("vec_a"), col("vec_b"), col("d2"))
        .localCheckpoint() // neighbor ranks (both directions) + edge join
      val nbrs = pd.select(col("vec_a").as("v"), col("vec_b").as("o"), col("d2"))
        .unionByName(pd.select(col("vec_b").as("v"), col("vec_a").as("o"), col("d2")))
      val wv = Window.partitionBy(col("v")).orderBy(col("d2"), col("o"))
      val core = nbrs.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 4)
        .select(col("v"), col("d2").as("core4"))
      val edges = pd
        .join(core.select(col("v").as("vec_a"), col("core4").as("core_a")), "vec_a")
        .join(core.select(col("v").as("vec_b"), col("core4").as("core_b")), "vec_b")
        .withColumn("mreach", greatest(col("core_a"), col("core_b"), col("d2")))
      val top = edges.orderBy(col("mreach"), col("vec_a"), col("vec_b")).limit(20)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("mreach"), col("vec_a"), col("vec_b"))))
        .select(col("rank"), col("vec_a"), col("vec_b"), col("d2"),
          col("core_a"), col("core_b"), col("mreach"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // Product quantization (the IVF-PQ compression path): the 64-dim
    // vector is split into 4×16-dim sub-blocks, each with its OWN
    // trained sub-codebook (label-mean init → one Lloyd iteration —
    // q65's training loop per block); every vector is encoded as 4
    // code ids (64 floats → 4 small ints, the ~64× compression a
    // billion-vector index needs) plus its total quantization error.
    // Each block is a broadcast of k=10 sub-centroids + one partitioned
    // window; blocks are independent so the 4 pipelines parallelize.
    "q89_pq_encode" -> ((s, dir) => {
      pqArtifacts(s, dir)._1
        .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
          round(col("err0") + col("err1") + col("err2") + col("err3"), 6).as("err"))
        .orderBy(col("vec_id"))
    }),

    // ------------------------------------------------------------------
    // IVF-PQ SEARCH — the complete billion-vector query path, composing
    // q61's coarse quantizer with q89's PQ compression: probe → nearest
    // trained IVF cell (nprobe=1) → candidates ranked by ASYMMETRIC PQ
    // distance (Σ over the 4 blocks of the probe-subvector↔sub-centroid
    // table, a (3×10×4)-row broadcast — candidates are scanned as 4
    // SMALL INTS, never as 64 floats) → top-5 shortlist → EXACT re-rank
    // of just those 5 (the only point full candidate vectors are
    // fetched, via a broadcast of the 15-row shortlist). At 100 TB the
    // cells+codes tables are the persisted index; the full-precision
    // read is 5 rows per probe, which is the entire point of IVF-PQ.
    // Determinism: every distance 6-dp-rounded before ranking; the
    // 4-term approx sum is left-to-right in both engines.
    "q142_ivfpq_search" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = trainedCodebook(s, dir)
      val (codes, subcbs) = pqArtifacts(s, dir)
      val cells = assign(e, cb).select(col("vec_id"), col("cid").as("cell"))
      val probes = assign(e.filter(col("vec_id") < 3), cb)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("cid").as("cell"))
        .localCheckpoint() // 4 pd branches + cell join + rerank consume it
      // per-block probe↔sub-centroid distance tables (the ADC lookup)
      val pds = (0 until 4).map { b =>
        probes.select(col("probe_id"), slice(col("p_emb"), b * 16 + 1, 16).as("psub"))
          .crossJoin(broadcast(subcbs(b)))
          .select(col("probe_id"), col("cid").as(s"c$b"),
            round(expr(sqdist.format("psub", "cvec")), 6).as(s"pd$b"))
      }
      var cand = cells
        .join(broadcast(probes.select(col("probe_id"), col("cell"))), "cell")
        .filter(col("vec_id") =!= col("probe_id"))
        .join(codes.select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3")), "vec_id")
      for (b <- 0 until 4) cand = cand.join(broadcast(pds(b)), Seq("probe_id", s"c$b"))
      val w5 = Window.partitionBy(col("probe_id")).orderBy(col("approx_d2"), col("vec_id"))
      val short = cand
        .withColumn("approx_d2", round(col("pd0") + col("pd1") + col("pd2") + col("pd3"), 6))
        .withColumn("r5", row_number().over(w5))
        .filter(col("r5") <= 5)
        .select(col("probe_id"), col("vec_id"), col("approx_d2"))
      val w3 = Window.partitionBy(col("probe_id")).orderBy(col("d2"), col("vec_id"))
      e.select(col("vec_id"), col("label"), col("embedding"))
        .join(broadcast(short), "vec_id") // full vectors touched for 15 rows only
        .join(broadcast(probes.select(col("probe_id"), col("p_emb"))), "probe_id")
        .withColumn("d2", round(expr(sqdist.format("embedding", "p_emb")), 6))
        .withColumn("rn", row_number().over(w3))
        .filter(col("rn") <= 3)
        .select(col("probe_id"), col("rn"), col("vec_id"), col("label"),
          col("approx_d2"), col("d2"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // ------------------------------------------------------------------
    // k-means codebook training, 2 Lloyd iterations (k=10, init = the
    // label centroids): assign → recompute, centroids ROUNDED each
    // iteration so the distributed avg's partition-order noise can
    // never flip an argmin; inertia summed as exact decimal over
    // 6-dp-rounded distances. Per iteration: one broadcast of k
    // centroids + one shuffle — the training loop a real IVF index
    // build runs, expressed declaratively (q61 is the search side).
    // ------------------------------------------------------------------
    // Simplified (centroid) SILHOUETTE over the trained IVF codebook —
    // the cluster-quality readout that tells you whether q61/q339's
    // cells are worth probing before you ship the index: s(i) =
    // (b−a)/max(a,b) with a = distance to the OWN centroid and b = the
    // runner-up centroid (exact silhouette is pairwise-N² — the
    // centroid form is the standard scale substitute, one N×k pass).
    // One broadcast crossJoin against the k-row codebook, a per-vector
    // window (keyed, never global) keeps the two nearest cells, and
    // per-row scores quantize to DECIMAL(28,12) pre-sum. b=0 (twin
    // centroids) nulls out instead of NaN-ing, both engines.
    "q394_silhouette" -> ((s, dir) => {
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2c"), col("cid"))
      Tables.embeddings(s, dir)
        .crossJoin(broadcast(trainedCodebook(s, dir)))
        .withColumn("d2c", round(expr(sqdist.format("embedding", "cvec")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .groupBy(col("vec_id"))
        .agg(min(when(col("rn") === 1, col("cid"))).as("cid"),
          min(when(col("rn") === 1, col("d2c"))).as("a2"),
          min(when(col("rn") === 2, col("d2c"))).as("b2"))
        .withColumn("sil", expr(
          "cast((sqrt(b2) - sqrt(a2)) / nullif(greatest(sqrt(a2), sqrt(b2)), 0.0d) as decimal(28,12))"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("sil")).cast("double") / count(lit(1)), 6).as("mean_sil"),
          round(min(col("sil")).cast("double"), 6).as("min_sil"),
          round(max(col("sil")).cast("double"), 6).as("max_sil"))
        .orderBy(col("cid"))
    }),

    "q65_kmeans_train" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // trainedCodebook = one Lloyd iteration from the label-mean init;
      // the second assignment both scores it (inertia) and IS the
      // assignment q61's IVF search runs against.
      val a2 = assign(e, trainedCodebook(s, dir))
      a2.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("d2").cast("decimal(18,6)")).cast("double"), 6).as("inertia"))
        .orderBy(col("cid"))
    }),

    // ------------------------------------------------------------------
    // Per-dimension normalization statistics + outlier screen — the
    // feature-scaling pass an embedding pipeline runs before training
    // or indexing. posexplode → 64-group partial-agg (sums quantized to
    // DECIMAL so the distributed merge is exact: float→double casts are
    // value-preserving, so the per-row quantization is deterministic),
    // then the 64-row stats broadcast back for the |z| > 3 count. Two
    // scans of the vector table, zero data-sized shuffles (the exploded
    // frame contracts straight into 64 groups map-side).
    "q154_embed_norm" -> ((s, dir) => {
      val ex = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("p0", "x")))
        .select((col("p0") + 1).as("pos"), col("x").cast("double").as("x"))
      val stats = ex.groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(28,10)")).as("sx"),
          sum(expr("cast(x * x as decimal(38,16))")).as("sxx"))
        .select(col("pos"), col("n"),
          (col("sx").cast("double") / col("n")).as("mean"),
          sqrt(col("sxx").cast("double") / col("n") -
            (col("sx").cast("double") / col("n")) * (col("sx").cast("double") / col("n"))).as("std"))
        .localCheckpoint() // stats output + outlier join both consume it
      val outliers = ex.join(broadcast(stats), "pos")
        .filter(abs((col("x") - col("mean")) / col("std")) > 3.0)
        .groupBy(col("pos")).agg(count(lit(1)).as("n_out"))
      stats.join(broadcast(outliers), Seq("pos"), "left")
        .select(col("pos"), col("n"),
          round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
          coalesce(col("n_out"), lit(0L)).as("n_outliers"))
        .orderBy(col("pos"))
    }),

    // ------------------------------------------------------------------
    // Matryoshka truncation evaluation: how much retrieval quality
    // survives keeping only the first 16 of 64 dims — the standard
    // check before shipping truncated embeddings (64→16 is 4× less
    // storage/bandwidth at 100 TB). Per probe: top-10 by full-dim
    // cosine vs top-10 by truncated-dim cosine, overlap@10, and both
    // top-1 ids. Probes broadcast; both cosines ride the native
    // codegen'd cosine_sim in ONE corpus pass; windows are keyed by
    // probe (never global). At corpus scale the probe set is a sample —
    // the harness shape (rank joint, grouped overlap) is unchanged.
    "q221_matryoshka_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probes = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      val sim = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos_full", round(expr("cosine_sim(embedding, p_emb)"), 6))
        .withColumn("cos_16",
          round(expr("cosine_sim(slice(embedding, 1, 16), slice(p_emb, 1, 16))"), 6))
      val wf = Window.partitionBy(col("probe_id")).orderBy(col("cos_full").desc, col("vec_id"))
      val wt = Window.partitionBy(col("probe_id")).orderBy(col("cos_16").desc, col("vec_id"))
      sim.withColumn("rf", row_number().over(wf))
        .withColumn("rt", row_number().over(wt))
        .filter(col("rf") <= 10 || col("rt") <= 10)
        .groupBy(col("probe_id"))
        .agg(sum(when(col("rf") <= 10 && col("rt") <= 10, 1L).otherwise(0L)).as("overlap10"),
          max(when(col("rf") === 1, col("vec_id"))).as("top1_full"),
          max(when(col("rt") === 1, col("vec_id"))).as("top1_trunc"))
        .withColumn("recall10", round(col("overlap10") / lit(10.0), 6))
        .orderBy(col("probe_id"))
    }),

    // ------------------------------------------------------------------
    // Embedding isotropy audit: anisotropy = ‖mean unit vector‖² (≈ the
    // expected cosine between random pairs — 0 for a perfectly
    // isotropic cloud, →1 when everything points one way) plus the
    // norm distribution — the two embedding-health numbers checked
    // before cosine similarity is trusted at all. Norms are in-row
    // left-to-right folds (q41's parity recipe); unit components and
    // squared dim-means are DECIMAL-quantized before their distributed
    // sums. Two corpus scans (norm stats + dim means), one 64-cell
    // shuffle.
    "q232_isotropy" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .withColumn("nrm", expr(
          "sqrt(aggregate(embedding, 0.0d, (a, x) -> a + cast(x as double) * cast(x as double)))"))
        .filter(col("nrm") > 0.0)
      val ns = e.agg(count(lit(1)).as("n_vecs"),
        sum(expr("cast(nrm as decimal(28,12))")).as("snrm"),
        sum(expr("cast(nrm * nrm as decimal(38,12))")).as("snrm2"))
      val aniso = e
        .select(col("nrm"), posexplode(col("embedding")).as(Seq("p0", "x")))
        .select(col("p0"), expr("cast(cast(x as double) / nrm as decimal(28,12))").as("u"))
        .groupBy(col("p0")).agg(sum(col("u")).as("su"), count(lit(1)).as("n"))
        .select(expr("cast(su as double) / n").as("mu"))
        .agg(count(lit(1)).as("dim"),
          sum(expr("cast(mu * mu as decimal(28,12))")).as("sa"))
      ns.crossJoin(broadcast(aniso))
        .select(col("n_vecs"), col("dim"),
          round(expr("cast(snrm as double) / n_vecs"), 6).as("mean_norm"),
          // greatest(…, 0): the closed-form variance of a near-constant
          // norm distribution can land at −1e-15; DuckDB's sqrt ERRORS
          // on negatives where Spark would yield NaN — clamp both
          round(expr(
            "sqrt(greatest(cast(snrm2 as double) / n_vecs - " +
              "(cast(snrm as double) / n_vecs) * (cast(snrm as double) / n_vecs), 0.0d))"), 6)
            .as("std_norm"),
          round(expr("cast(sa as double)"), 6).as("anisotropy"))
    }),

    // ------------------------------------------------------------------
    // Effective dimensionality (participation ratio): (Σλ)²/Σλ² over
    // the per-dimension variances — how many dimensions the embedding
    // cloud actually uses (64 if perfectly spread, →1 if one direction
    // dominates), the cheap PCA-free collapse detector. Rides q154's
    // per-dim DECIMAL sufficient-statistic recipe; the rollup is a
    // 1-row aggregate over 64 cells with λ terms quantized pre-sum.
    "q233_effective_dim" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("p0", "x")))
        .select(col("p0"), col("x").cast("double").as("x"))
        .groupBy(col("p0"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(28,10)")).as("sx"),
          sum(expr("cast(x * x as decimal(38,16))")).as("sxx"))
        .select(col("n"), expr(
          "cast(sxx as double) / n - (cast(sx as double) / n) * (cast(sx as double) / n)").as("lam"))
        .agg(max(col("n")).as("n_vecs"), count(lit(1)).as("dim"),
          sum(expr("cast(lam as decimal(28,12))")).as("tv"),
          sum(expr("cast(lam * lam as decimal(28,12))")).as("tv2"))
        .select(col("n_vecs"), col("dim"),
          round(expr("cast(tv as double)"), 6).as("total_var"),
          round(expr("cast(tv as double) / dim"), 6).as("mean_var"),
          round(expr("cast(tv as double) * cast(tv as double) / cast(tv2 as double)"), 6)
            .as("effective_dim"))),

    // ------------------------------------------------------------------
    // Leading eigenpair by MATRIX-FREE power iteration — the
    // distributed-PCA first step without ever materializing the
    // covariance: Cv = (1/n)·Xᵀ(Xv) − μ(μᵀv), so each iteration is ONE
    // corpus pass (per-row dot against the broadcast 64-element v,
    // then a 64-cell per-dim contraction of x·d terms). A naive
    // 64×64-pair explosion multiplies the scan by dim (measured 12.1 s
    // vs <1 s at sf0.1; at 1 B vectors it's the difference between a
    // readable pass and a 4-trillion-row generator). x·d terms are
    // DECIMAL-quantized pre-shuffle, μᵀv over 64 quantized cells;
    // per-iteration localCheckpoint caps lineage. λ₁ = ‖C·v₃‖;
    // explained share = λ₁/tr(C) with tr from per-dim variances
    // (q233's sufficient statistics). Sign-free outputs only (an
    // eigenvector's sign is arbitrary): λ₁, share, argmax-|loading|.
    "q235_pca_power" -> ((s, dir) => {
      // Matrix-free power iteration with the DIMENSION-sized iterate on
      // the driver (the corpus never leaves the cluster): the old shape
      // kept the 64-cell iterate as DataFrames, costing ~3 serial jobs
      // per iteration (varr broadcast, μᵀv broadcast, matvec+eager
      // checkpoint) — ~14 driver round-trips for 4 corpus passes. The
      // per-dim stats and each matvec's 64-cell contraction are BOUNDED
      // collects (embedding dimensionality, never data size — the
      // cumCounts/OLS-literal class), and every collected number is the
      // output of the SAME pre-quantized decimal aggregate as before, so
      // driver-side recombination is bit-identical: per-term
      // decimal(28,12)/(38,16) quantization (java BigDecimal.valueOf +
      // HALF_UP = the Cast(double→decimal) path) makes each sum exact
      // and order-free, and the scalar double ops (/, *, −, sqrt) are
      // the same IEEE ops Catalyst ran. 4 corpus passes = 5 jobs total.
      import java.math.{BigDecimal => JBD, RoundingMode => RM}
      def q12(x: Double) = JBD.valueOf(x).setScale(12, RM.HALF_UP)
      val emb = Tables.embeddings(s, dir)
      // per-dim stats pass (unchanged aggregate, collected: ≤64 rows)
      val pdRows = emb
        .select(posexplode(col("embedding")).as(Seq("p", "x")))
        .select(col("p"), col("x").cast("double").as("x"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"),
          (sum(col("x").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("m"),
          expr("cast(sum(cast(x * x as decimal(38,16))) as double)").as("sxx"))
        .collect().sortBy(_.getInt(0))
      val dims = pdRows.map(_.getInt(0))
      val nArr = pdRows.map(_.getLong(1))
      val mArr = pdRows.map(_.getDouble(2))
      val sxxArr = pdRows.map(_.getDouble(3))
      val nVecs = nArr.max
      // tr(C) = Σ_d (E[x²] − μ²), λ terms quantized over the 64 cells
      val trace = sxxArr.indices
        .map(i => q12(sxxArr(i) / nArr(i) - mArr(i) * mArr(i)))
        .foldLeft(JBD.ZERO)(_ add _).doubleValue
      // one matrix-free matvec: w = (1/n)·Xᵀ(X·v) − μ·(μᵀv); ONE job —
      // v rides in as a literal array, the 64-cell result collects back
      def matvec(v: Array[Double]): Array[Double] = {
        val mv = v.indices.map(i => q12(mArr(i) * v(i)))
          .foldLeft(JBD.ZERO)(_ add _).doubleValue
        val va = array(v.map(lit(_)): _*)
        val sxd = emb
          .withColumn("d", aggregate(
            zip_with(col("embedding"), va, (x, vv) => x.cast("double") * vv),
            lit(0.0), (a, y) => a + y))
          .select(col("d"), posexplode(col("embedding")).as(Seq("p", "x")))
          .groupBy(col("p"))
          .agg(count(lit(1)).as("n"),
            expr("cast(sum(cast(cast(x as double) * d as decimal(38,16))) as double)").as("sxd"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
        dims.map { p => val (n, sd) = sxd(p); sd / n - mArr(dims.indexOf(p)) * mv }
      }
      def norm(w: Array[Double]): Double = math.sqrt(
        w.map(x => q12(x * x)).foldLeft(JBD.ZERO)(_ add _).doubleValue)
      // init v = all-ones: the first normalization makes it unit
      var v = Array.fill(dims.length)(1.0)
      for (_ <- 1 to 3) {
        val w = matvec(v)
        val nrm = norm(w)
        v = w.map(_ / nrm)
      }
      // λ₁ = ‖C·v₃‖ (one further matvec on the normalized iterate);
      // top dim under the (round(abs(v),6) desc, p) total order
      val lambda1 = norm(matvec(v))
      def r6(x: Double) = JBD.valueOf(x).setScale(6, RM.HALF_UP).doubleValue
      val topI = dims.indices.minBy(i => (-r6(math.abs(v(i))), dims(i)))
      // final readout through Spark expressions so output rounding stays
      // Catalyst's own (same round() the old shape applied)
      s.range(1).select(lit(nVecs).as("n_vecs"),
        round(lit(lambda1), 6).as("lambda1"),
        round(lit(trace), 6).as("trace"),
        round(lit(lambda1) / lit(trace), 6).as("explained_share"),
        lit(dims(topI) + 1).as("top_dim"),
        round(abs(lit(v(topI))), 6).as("top_loading"))
    }),

    // ------------------------------------------------------------------
    // INT8 scalar quantization + recall audit — the 4× memory
    // compression step before any billion-vector ANN deploy. Per-dim
    // symmetric scales (ONE 64-cell max-abs contraction, broadcast),
    // in-row zip_with quantization to int8 range; candidate ranking by
    // EXACT integer dot products over the quantized vectors (no fp
    // accumulation at all on the approx side), recall@10 against the
    // exact-cosine top-10 for 5 broadcast probes, plus the global mean
    // absolute reconstruction error (in-row fold, DECIMAL-quantized
    // per row, exact decimal sum). Probe-side joins are the audited
    // bounded-BNLJ shape (5 literal-keyed rows).
    "q247_int8_recall" -> ((s, dir) => {
      val sv = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("pos")).agg(max(abs(col("x").cast("double"))).as("sc"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, sc))), t -> t.sc)").as("sv"))
      val q = Tables.embeddings(s, dir).crossJoin(broadcast(sv))
        .withColumn("qv", expr(
          "zip_with(embedding, sv, (x, s) -> CASE WHEN s = 0.0d THEN 0 "
            + "ELSE cast(round(127.0 * cast(x as double) / s) as int) END)"))
        .withColumn("qn", expr(
          "aggregate(qv, 0L, (acc, a) -> acc + cast(a as bigint) * a)"))
        .localCheckpoint() // probes + candidates + reconstruction audit
      val probes = q.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("qv").as("p_qv"), col("qn").as("p_qn"))
      val we = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
      val exact = q.crossJoin(broadcast(probes.select(col("probe_id"), col("p_emb"))))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos", round(expr("cosine_sim(embedding, p_emb)"), 6))
        .withColumn("rn", row_number().over(we)).filter(col("rn") <= 10)
        .select(col("probe_id"), col("vec_id"))
      val wa = Window.partitionBy(col("probe_id")).orderBy(col("qcos").desc, col("vec_id"))
      val approx = q.crossJoin(broadcast(probes.select(col("probe_id"), col("p_qv"), col("p_qn"))))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("qdot", expr(
          "aggregate(zip_with(qv, p_qv, (a, b) -> cast(a as bigint) * b), 0L, (acc, v) -> acc + v)"))
        .withColumn("qcos", round(expr(
          "qdot / (sqrt(cast(qn as double)) * sqrt(cast(p_qn as double)))"), 6))
        .withColumn("rn", row_number().over(wa)).filter(col("rn") <= 10)
        .select(col("probe_id"), col("vec_id"))
      val overlap = exact.join(approx, Seq("probe_id", "vec_id"), "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("ov"))
      val err = q.select(expr(
        "cast(aggregate(zip_with(embedding, sv, (x, s) -> abs(cast(x as double) - "
          + "CASE WHEN s = 0.0d THEN 0.0d ELSE round(127.0 * cast(x as double) / s) * s / 127.0 END)), "
          + "0.0d, (acc, v) -> acc + v) as decimal(28,12))").as("re"))
        .agg(sum(col("re")).as("se"), count(lit(1)).as("nv"))
        .select(round(expr("cast(se as double) / (nv * 64)"), 6).as("mean_abs_err"))
      probes.select(col("probe_id"))
        .join(overlap, Seq("probe_id"), "left")
        .crossJoin(broadcast(err))
        .select(col("probe_id"), coalesce(col("ov"), lit(0L)).as("n_overlap"),
          round(coalesce(col("ov"), lit(0L)) / 10.0, 6).as("recall_at_10"),
          col("mean_abs_err"))
        .orderBy(col("probe_id"))
    }),

    // ------------------------------------------------------------------
    // Embedding class separation WITHOUT pair expansion: mean pairwise
    // cosine within each label and between labels via the sum-vector
    // identity  Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖v‖²  over 6dp-rounded unit
    // vectors — the O(n²) statistic from O(n) work: one exploded
    // shuffle to |label|×64 DECIMAL-exact cells, then bounded-cell
    // algebra. At a billion vectors the naive version generates 10¹⁸
    // pairs; this is one corpus pass. Between-label mean falls out of
    // the same cells: Σ_{a≠b} S_a·S_b = ‖T‖² − Σ‖S_l‖².
    "q251_label_separation" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir).withColumn("nrm", expr(
        "sqrt(aggregate(embedding, 0.0d, (acc, x) -> acc + cast(x as double) * cast(x as double)))"))
      val x = e.select(col("label"), col("nrm"), posexplode(col("embedding")).as(Seq("pos", "xx")))
        .withColumn("nv", expr("cast(round(cast(xx as double) / nrm, 6) as decimal(18,6))"))
        .localCheckpoint() // cell sums + row-norm rollup
      val lp = x.groupBy(col("label"), col("pos")).agg(sum(col("nv")).as("sd"))
        .localCheckpoint() // label rollup + dim totals
      val rr = x.groupBy(col("label")).agg(
        sum(expr("cast(cast(nv as double) * cast(nv as double) as decimal(28,12))")).as("rr"))
      val nl = Tables.embeddings(s, dir).groupBy(col("label")).agg(count(lit(1)).as("n"))
      val s2 = lp.groupBy(col("label")).agg(
        sum(expr("cast(cast(sd as double) * cast(sd as double) as decimal(38,12))")).as("s2"))
      val t2 = lp.groupBy(col("pos")).agg(sum(col("sd")).as("td"))
        .agg(sum(expr("cast(cast(td as double) * cast(td as double) as decimal(38,12))")).as("t2"))
      val tots = nl.agg(sum(col("n")).as("ntot"), sum(expr("n * n")).as("n2"))
      val between = t2
        .crossJoin(broadcast(s2.agg(sum(col("s2")).as("ss2"))))
        .crossJoin(broadcast(tots))
        .select(round(expr("cast(t2 - ss2 as double) / (ntot * ntot - n2)"), 6)
          .as("between_mean_cos"))
      nl.join(s2, "label").join(rr, "label").crossJoin(broadcast(between))
        .select(col("label"), col("n"),
          round(expr("cast(s2 - rr as double) / (n * cast(n - 1 as double))"), 6)
            .as("within_mean_cos"),
          col("between_mean_cos"))
        .withColumn("separation", round(expr("within_mean_cos - between_mean_cos"), 6))
        .orderBy(col("label"))
    }),

    // ------------------------------------------------------------------
    // Johnson–Lindenstrauss random-projection audit (beside q247's int8
    // audit: quantization compresses VALUES, projection compresses
    // DIMENSIONS — 64 → 16 here, the shrink step before any distance
    // sketch index): deterministic ±odd-integer projection planes
    // (q295's md5 grid, E[w²]=85), vectors integer-quantized at 1e4 so
    // every projection, norm, and pairwise distance is an EXACT BIGINT
    // in both engines — the ratio grid is bit-identical and only the
    // final ratios are doubles. Readout: norm preservation
    // ‖y‖²/(16·85·‖x‖²) over the WHOLE corpus (the JL expectation is 1)
    // and pairwise-distance preservation over the 190 bounded probe
    // pairs — mean/min/max distortion per scope. At 100 TB the
    // projection is one broadcast-planes pass (16 exact-int dots per
    // vector); nothing pairwise ever touches the full corpus.
    "q367_jl_audit" -> ((s, dir) => {
      val planes = s.range(0, 16).select(col("id").cast("int").as("j"))
        .crossJoin(s.range(1, 65).select(col("id").cast("int").as("d")))
        .withColumn("w2", expr(
          "2 * (position(substr(md5(cast(concat(cast(j as string), '_', cast(d as string)) as binary)), 1, 1), '0123456789abcdef') - 1) - 15"))
      val xq = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).as("d"),
          expr("cast(floor(cast(x as double) * 10000) as bigint)").as("xq"))
        .localCheckpoint() // projections + norms + probe vectors
      val proj = xq.join(broadcast(planes), "d")
        .groupBy(col("vec_id"), col("j")).agg(sum(col("xq") * col("w2")).as("y"))
        .groupBy(col("vec_id"))
        .agg(sum(col("y") * col("y")).as("py2"),
          expr("transform(sort_array(collect_list(struct(j, y))), t -> t.y)").as("yv"))
      val nrm = xq.groupBy(col("vec_id")).agg(sum(col("xq") * col("xq")).as("x2"))
      val vecs = proj.join(nrm, "vec_id").localCheckpoint() // norm stats + probes
      def stats(scope: String, df0: org.apache.spark.sql.DataFrame) =
        df0.agg(count(lit(1)).as("n"),
          round(expr("cast(sum(cast(r as decimal(28,12))) as double) / count(1)"), 6).as("mean_ratio"),
          round(min(col("r")), 6).as("min_ratio"),
          round(max(col("r")), 6).as("max_ratio"))
          .select(lit(scope).as("scope"), col("n"), col("mean_ratio"),
            col("min_ratio"), col("max_ratio"))
      val normStats = stats("norms",
        vecs.select(expr("cast(py2 as double) / (1360.0 * x2)").as("r")))
      val probes = xq.filter(col("vec_id") < 20).groupBy(col("vec_id"))
        .agg(expr("transform(sort_array(collect_list(struct(d, xq))), t -> t.xq)").as("xv"))
        .join(vecs.select(col("vec_id"), col("yv")), "vec_id")
        .localCheckpoint() // both sides of the bounded pair join
      val a = probes.select(col("vec_id").as("va"), col("xv").as("xa"), col("yv").as("ya"))
      val b = probes.select(col("vec_id").as("vb"), col("xv").as("xb"), col("yv").as("yb"))
      val pairStats = stats("pairs",
        a.join(broadcast(b), col("va") < col("vb"))
          .withColumn("dx2", expr(
            "aggregate(zip_with(xa, xb, (p, q) -> (p - q) * (p - q)), 0L, (acc, v) -> acc + v)"))
          .withColumn("dy2", expr(
            "aggregate(zip_with(ya, yb, (p, q) -> (p - q) * (p - q)), 0L, (acc, v) -> acc + v)"))
          .filter(col("dx2") > 0) // JL ratio undefined at zero distance
          .select(expr("cast(dy2 as double) / (1360.0 * dx2)").as("r")))
      normStats.unionByName(pairStats).orderBy(col("scope"))
    }),

    // ------------------------------------------------------------------
    // ALS matrix-factorization sweep (k=2, λ=0.1) over the implicit
    // user×event_type count matrix — one full alternation of the
    // algorithm behind every large-scale recommender: item factors
    // initialized deterministically (y=(1, md5-fraction−0.5), DECIMAL-
    // quantized), then EXACT closed-form 2×2 normal equations solve the
    // user factors ((YᵀY+λI)x = Yᵀr per user — one groupBy over rated
    // cells, λ>0 guarantees invertibility by Cauchy–Schwarz), factors
    // re-quantized, and the ITEM stage runs the same closed form back
    // over the new user factors. Every Σ is a DECIMAL(38,12) exact sum
    // (merge-order-free); only the 2×2 inverse arithmetic is IEEE —
    // deterministic on exact inputs. Readout: per-item updated factors
    // + observed-cell RMSE after the sweep. The scale shape is the real
    // one: each stage is ONE shuffled groupBy over the rating cells
    // with the k×k cells as partial-agg state; nothing materializes a
    // dense matrix.
    "q368_als_sweep" -> ((s, dir) => {
      val r = Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).cast("double").as("r"))
        .localCheckpoint() // user stage + item stage + rmse
      val y0 = r.select(col("event_type")).distinct()
        .withColumn("y1", expr("cast(1.0 as decimal(18,6))"))
        .withColumn("y2", expr(
          "cast(md5_mod(event_type, 1000) / 1000.0 - 0.5 as decimal(18,6))"))
      def solve(cells: org.apache.spark.sql.DataFrame, key: String,
          f1: String, f2: String) =
        cells.groupBy(col(key))
          .agg(sum(expr(s"cast($f1 * $f1 as decimal(38,12))")).as("a11"),
            sum(expr(s"cast($f1 * $f2 as decimal(38,12))")).as("a12"),
            sum(expr(s"cast($f2 * $f2 as decimal(38,12))")).as("a22"),
            sum(expr(s"cast(r * $f1 as decimal(38,12))")).as("b1"),
            sum(expr(s"cast(r * $f2 as decimal(38,12))")).as("b2"))
          .withColumn("det", expr(
            "(cast(a11 as double) + 0.1) * (cast(a22 as double) + 0.1) "
              + "- cast(a12 as double) * cast(a12 as double)"))
          .select(col(key),
            expr("cast(round(((cast(a22 as double) + 0.1) * cast(b1 as double) "
              + "- cast(a12 as double) * cast(b2 as double)) / det, 6) as decimal(18,6))").as("n1"),
            expr("cast(round((-cast(a12 as double) * cast(b1 as double) "
              + "+ (cast(a11 as double) + 0.1) * cast(b2 as double)) / det, 6) as decimal(18,6))").as("n2"))
      val ux = solve(r.join(broadcast(y0), "event_type"), "user_id", "y1", "y2")
        .withColumnRenamed("n1", "x1").withColumnRenamed("n2", "x2")
        .localCheckpoint() // item stage + rmse
      val iy = solve(r.join(ux, "user_id"), "event_type", "x1", "x2")
        .localCheckpoint() // rmse + readout
      val fit = r.join(ux, "user_id").join(broadcast(iy), "event_type")
        .select(expr(
          "cast((r - (cast(x1 as double) * cast(n1 as double) + cast(x2 as double) * cast(n2 as double))) * "
            + "(r - (cast(x1 as double) * cast(n1 as double) + cast(x2 as double) * cast(n2 as double))) "
            + "as decimal(28,12))").as("se"))
        .agg(sum(col("se")).as("sse"), count(lit(1)).as("n_obs"))
        .select(round(expr("sqrt(cast(sse as double) / n_obs)"), 6).as("rmse"), col("n_obs"))
      iy.join(r.groupBy(col("event_type")).agg(count(lit(1)).as("n_users")), "event_type")
        .crossJoin(broadcast(fit))
        .select(col("event_type"), col("n_users"),
          round(col("n1").cast("double"), 6).as("y1_new"),
          round(col("n2").cast("double"), 6).as("y2_new"),
          col("rmse"), col("n_obs"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // HDBSCAN stage 2 — the minimum spanning tree of the
    // mutual-reachability graph (q295 built the stage-1 edges; the MST
    // is the dendrogram every HDBSCAN cut descends, and its HEAVIEST
    // edges are the cluster separations): Borůvka's algorithm run as
    // DISTRIBUTED join+agg rounds — per component, min outgoing edge
    // under the total order (w, a, b) via ONE struct-min partial agg;
    // selected edges merge components through certified-fixpoint
    // min-label propagation (q80's discipline, e149694); components at
    // least halve per round so ⌈log₂n⌉ rounds complete the tree. Edge
    // frame = mutual reachability (k=4 core distances) over the 32
    // bounded probes, so the oracle can replay exactly; at corpus scale
    // the SAME rounds run over q295's banded candidate edges — Borůvka
    // is THE parallel MST algorithm precisely because each round is one
    // partial-agg shuffle. Oracle computes the same MST by a DIFFERENT
    // algorithm (Prim unrolled 31 steps under the same total order — a
    // shared bug can't cancel); readout = the 5 heaviest MST edges
    // (the top dendrogram splits) + exact DECIMAL total weight.
    "q370_hdbscan_mst" -> ((s, dir) => {
      val probes = Tables.embeddings(s, dir).filter(col("vec_id") < 32)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      val pd = probes.select(col("vec_id").as("va"), col("embedding").as("ea"))
        .join(broadcast(probes.select(col("vec_id").as("vb"), col("embedding").as("eb"))),
          col("va") < col("vb"))
        .withColumn("d2", round(expr(sqdist.format("ea", "eb")), 6))
        .select(col("va"), col("vb"), col("d2"))
      val nbrs = pd.select(col("va").as("v"), col("d2"))
        .unionByName(pd.select(col("vb").as("v"), col("d2")))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("d2"))
      val core = nbrs.withColumn("rn", row_number().over(wv))
        .filter(col("rn") === 4).select(col("v"), col("d2").as("core4"))
      val edges = pd
        .join(broadcast(core.select(col("v").as("va"), col("core4").as("core_a"))), "va")
        .join(broadcast(core.select(col("v").as("vb"), col("core4").as("core_b"))), "vb")
        .select(col("va"), col("vb"),
          greatest(col("core_a"), col("core_b"), col("d2")).as("w"))
      // Sorted-stream Kruskal on ONE reducer (q381's idiom with the cell
      // key degenerate: the probe set IS one cell). Every edge key
      // (w, va, vb) is distinct — (va, vb) is unique per pair — so the
      // lexicographic-order MST is unique and Kruskal under this sort
      // returns exactly the edge set the oracle's Prim (ORDER BY w, va,
      // vb LIMIT 1 per step) returns; the old driver-looped Borůvka
      // (log-diameter rounds × label-propagation fixpoints, each an
      // eager checkpoint + count job) computed the same unique tree in
      // ~30 serial jobs. 32 probes → ≤496 edges → O(|probes|) reducer
      // memory, same bound as q381's per-cell contract.
      import s.implicits._
      val mst = edges
        .select(col("va").cast("long").as("va"), col("vb").cast("long").as("vb"),
          col("w"))
        .repartition(1)
        .sortWithinPartitions(col("w"), col("va"), col("vb"))
        .as[(Long, Long, Double)]
        .mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          val uf = new UnionFind
          it.foreach { case (va, vb, w) =>
            // Kruskal accept: first (lightest) crossing edge
            if (uf.union(va, vb)) out += ((va, vb, w))
          }
          out.iterator
        }
        .toDF("va", "vb", "w")
        .localCheckpoint() // consumed twice: totals + top-5 readout
      val tot = mst.agg(count(lit(1)).as("n_edges"),
        round(sum(col("w").cast("decimal(18,6)")).cast("double"), 6).as("total_w"))
      val top = mst.orderBy(col("w").desc, col("va"), col("vb")).limit(5)
      top.withColumn("rank", row_number().over(org.apache.spark.sql.expressions
          .Window.orderBy(col("w").desc, col("va"), col("vb"))))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("va"), col("vb"), col("w"),
          col("n_edges"), col("total_w"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // HDBSCAN MST at CORPUS scale — q370's mutual-reachability tree
    // over q339's WITHIN-IVF-CELL contraction instead of the 32-probe
    // cap (the verdict's residual: the cap bounded coverage; this
    // scales it): every vector of the FULL embeddings table is
    // assigned to its IVF cell (shared memoized codebook), the
    // mutual-reachability graph is built ONLY within cells (pair cost
    // Σ|cell|², never N² — SemDeDup's own scale contract: grow k with
    // N so cells stay bounded), core distance = min(4, |cell|−1)-NN
    // within the cell, and every cell's MST is built in ONE shuffle:
    // repartition by cell + sortWithinPartitions((cell, w, va, vb))
    // + a streaming KRUSKAL union-find per cell — the secondary-sort
    // pattern, memory O(|cell|) per reducer (the union-find array),
    // never O(|cell|²) (edges stream through in weight order). q370
    // keeps the distributed-Borůvka showcase; at corpus scale the
    // sorted-stream Kruskal is strictly cheaper: zero driver rounds,
    // one exchange, and the cell-size cap bounds reducer state. The
    // result is the per-cell MST FOREST — the dendrogram skeleton each
    // HDBSCAN cut descends; readout = each cell's tree bill (n_vecs,
    // n_edges = n−1, DECIMAL-exact total weight, heaviest edge = the
    // cell's top split). The oracle recomputes every tree by a
    // DIFFERENT algorithm (recursive Prim under the same (w, va, vb)
    // total order) — identical totals because all MSTs of a graph
    // share the same weight multiset.
    // ------------------------------------------------------------------
    // HDBSCAN stage 3 — CLUSTER EXTRACTION (DBSCAN* cut of the mutual-
    // reachability graph, min-cluster-size = 3): q295 built core
    // distances, q381 the per-cell MSTs; this key extracts the actual
    // clusters a dedup/curation pipeline consumes. Per cell: ε = 0.8 ×
    // the mean mutual-reachability weight (exact decimal mean — a
    // deterministic, data-derived λ cut), keep edges w ≤ ε, connected
    // components via the SAME one-exchange streaming union-find as
    // q381 (roots = min vec_id, so component identity is order-free),
    // components < 3 and edge-less vectors are NOISE. The pair stage
    // stays Σ|cell|² (SemDeDup's contract); the oracle replays the cut
    // and a RECURSIVE min-label propagation in DuckDB.
    "q396_hdbscan_clusters" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val a = assign(e, trainedCodebook(s, dir))
        .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
        .localCheckpoint() // pairs (both sides) + sizes
      val pd = a.select(col("cell"), col("vec_id").as("va"), col("embedding").as("ea"))
        .join(a.select(col("cell"), col("vec_id").as("vb"), col("embedding").as("eb")),
          "cell")
        .filter(col("va") < col("vb"))
        .withColumn("d2", round(expr(sqdist.format("ea", "eb")), 6))
        .select(col("cell"), col("va"), col("vb"), col("d2"))
        .localCheckpoint() // core ranks + edge build
      val sizes = a.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      val nbrs = pd.select(col("cell"), col("va").as("v"), col("d2"))
        .unionByName(pd.select(col("cell"), col("vb").as("v"), col("d2")))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("d2"))
      val core = nbrs.withColumn("rn", row_number().over(wv))
        .join(broadcast(sizes.withColumnRenamed("n_vecs", "n_cell")), "cell")
        .filter(col("rn") === least(lit(4), col("n_cell") - 1))
        .select(col("v"), col("d2").as("core"))
      // core is vector-count-sized (one row per vec), tiny next to the
      // Σ|cell|² pair frame — broadcast both attach joins so the pair
      // frame is never exchanged (guide §3.1; the unhinted plan SMJ'd
      // the pair frame twice on va/vb)
      val edges = pd
        .join(broadcast(core.select(col("v").as("va"), col("core").as("core_a"))), "va")
        .join(broadcast(core.select(col("v").as("vb"), col("core").as("core_b"))), "vb")
        .select(col("cell"), col("va"), col("vb"),
          greatest(col("core_a"), col("core_b"), col("d2")).as("w"))
        .localCheckpoint() // ε aggregate + the cut both consume it
      val eps = edges.groupBy(col("cell")).agg(
        (sum(col("w").cast("decimal(28,6)")).cast("double") / count(lit(1)) * 0.8d)
          .as("eps"))
      val roots = edges.join(broadcast(eps), "cell")
        .filter(col("w") <= col("eps"))
        .select(col("cell").cast("long").as("cell"),
          col("va").cast("long").as("va"), col("vb").cast("long").as("vb"))
        .repartition(col("cell"))
        .sortWithinPartitions(col("cell"), col("va"), col("vb"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          // per-cell union-find (min-root, path-compressed): memory
          // O(|cell|), edges stream through — q381's reducer shape
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          var curCell = Long.MinValue
          var uf: UnionFind = null
          def flush(): Unit = if (curCell != Long.MinValue)
            uf.roots.foreach { case (v, r) => out += ((curCell, v, r)) }
          it.foreach { case (cell, va, vb) =>
            if (cell != curCell) {
              flush()
              curCell = cell
              uf = new UnionFind
            }
            uf.union(va, vb)
          }
          flush()
          out.iterator
        }
        .toDF("cell", "v", "root")
      val clusters = roots.groupBy(col("cell"), col("root"))
        .agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 3)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_clusters"), max(col("sz")).as("max_cluster"),
          sum(col("sz")).as("clustered"))
      sizes.withColumn("cell", col("cell").cast("long"))
        .join(broadcast(clusters), Seq("cell"), "left")
        .select(col("cell"), col("n_vecs"),
          coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
          (col("n_vecs") - coalesce(col("clustered"), lit(0L))).as("n_noise"),
          coalesce(col("max_cluster"), lit(0L)).as("max_cluster"))
        .orderBy(col("cell"))
    }),

    "q381_hdbscan_cells" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.embeddings(s, dir)
      val cb = trainedCodebook(s, dir)
      val a = assign(e, cb)
        .select(col("vec_id"), col("embedding"), col("cid").as("cell"))
        .localCheckpoint() // pairs (both sides) + sizes
      val pd = a.select(col("cell"), col("vec_id").as("va"), col("embedding").as("ea"))
        .join(a.select(col("cell"), col("vec_id").as("vb"), col("embedding").as("eb")),
          "cell")
        .filter(col("va") < col("vb"))
        .withColumn("d2", round(expr(sqdist.format("ea", "eb")), 6))
        .select(col("cell"), col("va"), col("vb"), col("d2"))
        .localCheckpoint() // consumed by core ranks AND the edge build
      val sizes = a.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
      val nbrs = pd.select(col("cell"), col("va").as("v"), col("d2"))
        .unionByName(pd.select(col("cell"), col("vb").as("v"), col("d2")))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("v")).orderBy(col("d2"))
      val core = nbrs.withColumn("rn", row_number().over(wv))
        .join(broadcast(sizes), "cell")
        .filter(col("rn") === least(lit(4), col("n_cell") - 1))
        .select(col("v"), col("d2").as("core"))
      // core is vector-count-sized — broadcast both attach joins so the
      // Σ|cell|² pair frame is never exchanged for them (guide §3.1)
      val edges = pd
        .join(broadcast(core.select(col("v").as("va"), col("core").as("core_a"))), "va")
        .join(broadcast(core.select(col("v").as("vb"), col("core").as("core_b"))), "vb")
        .select(col("cell"), col("va"), col("vb"),
          greatest(col("core_a"), col("core_b"), col("d2")).as("w"))
      // ONE exchange: cells co-locate, edges arrive in (w, va, vb)
      // order, Kruskal consumes the stream with an O(|cell|) union-find
      val mst = edges
        .select(col("cell").cast("long").as("cell"), col("va").cast("long").as("va"),
          col("vb").cast("long").as("vb"), col("w"))
        .repartition(col("cell"))
        .sortWithinPartitions(col("cell"), col("w"), col("va"), col("vb"))
        .as[(Long, Long, Long, Double)]
        .mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, java.math.BigDecimal, Double)]
          var curCell = Long.MinValue
          var uf: UnionFind = null
          var nEdges = 0L
          var tot: java.math.BigDecimal = null
          var maxW = 0.0
          def flush(): Unit = if (curCell != Long.MinValue)
            out += ((curCell, nEdges, tot, maxW))
          it.foreach { case (cell, va, vb, w) =>
            if (cell != curCell) {
              flush()
              curCell = cell
              uf = new UnionFind
              nEdges = 0L
              tot = java.math.BigDecimal.ZERO.setScale(6)
              maxW = 0.0
            }
            if (uf.union(va, vb)) { // Kruskal accept: first (lightest) crossing edge
              nEdges += 1
              tot = tot.add(java.math.BigDecimal.valueOf(w).setScale(6, java.math.RoundingMode.HALF_UP))
              if (w > maxW) maxW = w
            }
          }
          flush()
          out.iterator
        }
        .toDF("cell", "n_edges", "tot", "max_w")
        .select(col("cell"), col("n_edges"),
          round(col("tot").cast("decimal(18,6)").cast("double"), 6).as("total_w"),
          col("max_w"))
      sizes
        .join(mst, Seq("cell"), "left")
        .select(col("cell"), col("n_cell").as("n_vecs"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"),
          coalesce(col("total_w"), lit(0.0)).as("total_w"),
          coalesce(col("max_w"), lit(0.0)).as("max_w"))
        .orderBy(col("cell"))
    }),
  )

  /** DuckDB cosine mirror of the native `cosine_sim` (q62's proven
    * formula: left-to-right list folds, final ratio rounded 6 dp). */
  private def cosSql(a: String, b: String) =
    (s"round(list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / "
      + s"(sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
      + s"sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)")

  /** q338 oracle: the greedy MMR loop unrolled to 4 materialized CTE
    * steps (q279's unrolled-CTE idiom) over the same top-20 shortlist. */
  private def mmrSql: String = {
    val steps = (2 to 5).map { k =>
      val p = s"p${k - 1}"
      (s"c$k AS (SELECT s.vec_id, s.embedding, s.rel, max(${cosSql("s.embedding", "p.embedding")}) AS msim "
        + s"FROM short s, $p p WHERE s.vec_id NOT IN (SELECT vec_id FROM $p) GROUP BY 1, 2, 3), "
        + s"s$k AS (SELECT vec_id, embedding, rel, $k AS pick, round(0.7 * rel - 0.3 * msim, 6) AS mmr_score, "
        + s"msim AS max_sim_prior FROM c$k ORDER BY round(0.7 * rel - 0.3 * msim, 6) DESC, vec_id LIMIT 1), "
        + s"p$k AS (SELECT * FROM $p UNION ALL SELECT * FROM s$k)")
    }.mkString(", ")
    ("WITH q0 AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0), "
      + s"relv AS (SELECT e.vec_id, e.embedding, ${cosSql("e.embedding", "q_emb")} AS rel "
      + "FROM embeddings e CROSS JOIN q0 WHERE e.vec_id <> 0), "
      + "short AS (SELECT * FROM relv ORDER BY rel DESC, vec_id LIMIT 20), "
      + "s1 AS (SELECT vec_id, embedding, rel, 1 AS pick, round(0.7 * rel, 6) AS mmr_score, "
      + "CAST(NULL AS DOUBLE) AS max_sim_prior FROM short ORDER BY rel DESC, vec_id LIMIT 1), "
      + s"p1 AS (SELECT * FROM s1), $steps "
      + "SELECT pick, vec_id, round(rel, 6) AS rel, mmr_score, max_sim_prior FROM p5 ORDER BY pick")
  }

  /** Shared oracle SQL: label-mean init → assign → recompute = the
    * trained codebook `cent1` (mirrors [[trainedCodebook]] exactly). */
  private def distSql(centTbl: String, dTbl: String, aTbl: String) =
    (s"$dTbl AS (SELECT e.vec_id, c.cid, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
      + "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS d2 "
      + s"FROM embeddings e CROSS JOIN $centTbl c), "
      + s"$aTbl AS (SELECT vec_id, cid, d2 FROM (SELECT vec_id, cid, d2, "
      + s"row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM $dTbl) WHERE rn = 1)")

  private def recomputeSql(aTbl: String, cTbl: String) =
    (s"$cTbl AS (SELECT cid, list(round(c, 6) ORDER BY pos) AS cvec FROM ("
      + "SELECT cid, pos, avg(CAST(x AS DOUBLE)) AS c FROM ("
      + "SELECT a.cid, generate_subscripts(e.embedding, 1) AS pos, unnest(e.embedding) AS x "
      + s"FROM $aTbl a JOIN embeddings e ON e.vec_id = a.vec_id) "
      + "GROUP BY cid, pos) GROUP BY cid)")

  private val trainSql =
    ("expl AS (SELECT label AS cid, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x FROM embeddings), "
      + "cent0 AS (SELECT cid, list(round(c, 6) ORDER BY pos) AS cvec FROM (SELECT cid, pos, avg(CAST(x AS DOUBLE)) AS c FROM expl GROUP BY cid, pos) GROUP BY cid), "
      + distSql("cent0", "d1", "a1") + ", "
      + recomputeSql("a1", "cent1"))

  /** q89 oracle, one block: slice → label-mean init → assign → recompute
    * → encode (mirrors the Spark per-block pipeline; same idiom as
    * [[trainSql]] but parameterized by the sub-vector slice). */
  private def pqBlockSql(b: Int): String = {
    val lo = b * 16 + 1; val hi = b * 16 + 16
    def dist(cent: String, out: String) =
      (s"$out AS (SELECT s.vec_id, c.cid, round(list_sum(list_transform(range(1, len(s.sv) + 1), i -> "
        + "(CAST(s.sv[i] AS DOUBLE) - c.cvec[i]) * (CAST(s.sv[i] AS DOUBLE) - c.cvec[i]))), 6) AS d2 "
        + s"FROM sub$b s CROSS JOIN $cent c)")
    (s"sub$b AS (SELECT vec_id, label, embedding[$lo:$hi] AS sv FROM embeddings), "
      + s"e$b AS (SELECT label AS cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x FROM sub$b), "
      + s"ci$b AS (SELECT cid, list(round(c, 6) ORDER BY pos) AS cvec FROM (SELECT cid, pos, avg(CAST(x AS DOUBLE)) AS c FROM e$b GROUP BY cid, pos) GROUP BY cid), "
      + dist(s"ci$b", s"di$b") + ", "
      + s"ai$b AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM di$b) WHERE rn = 1), "
      + s"ex$b AS (SELECT a.cid, generate_subscripts(s.sv, 1) AS pos, unnest(s.sv) AS x FROM ai$b a JOIN sub$b s USING (vec_id)), "
      + s"ct$b AS (SELECT cid, list(round(c, 6) ORDER BY pos) AS cvec FROM (SELECT cid, pos, avg(CAST(x AS DOUBLE)) AS c FROM ex$b GROUP BY cid, pos) GROUP BY cid), "
      + dist(s"ct$b", s"dt$b") + ", "
      + s"at$b AS (SELECT vec_id, cid AS c$b, d2 AS err$b FROM (SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dt$b) WHERE rn = 1)")
  }

  /** q142 oracle: IVF cells from [[trainSql]]'s cent1, PQ sub-codebooks
    * ct0..ct3 + code tables at0..at3 from [[pqBlockSql]], then the ADC
    * pipeline (probe↔sub-centroid tables, 4-term approx sum, top-5
    * shortlist, exact re-rank) mirroring the Spark plan term for term. */
  private def ivfpqSearchSql: String = {
    val pdTbls = (0 until 4).map { b =>
      val lo = b * 16 + 1; val hi = b * 16 + 16
      (s"ps$b AS (SELECT probe_id, p_emb[$lo:$hi] AS psub FROM probes), "
        + s"pd$b AS (SELECT s.probe_id, c.cid, round(list_sum(list_transform(range(1, len(s.psub) + 1), i -> "
        + "(CAST(s.psub[i] AS DOUBLE) - c.cvec[i]) * (CAST(s.psub[i] AS DOUBLE) - c.cvec[i]))), 6) AS pd "
        + s"FROM ps$b s CROSS JOIN ct$b c)")
    }.mkString(", ")
    (s"WITH $trainSql, " + (0 until 4).map(pqBlockSql).mkString(", ") + ", "
      + "adist AS (SELECT e.vec_id, e.label, e.embedding, c.cid, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
      + "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS d2 FROM embeddings e CROSS JOIN cent1 c), "
      + "assigned AS (SELECT vec_id, label, embedding, cid AS cell FROM (SELECT vec_id, label, embedding, cid, "
      + "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM adist) WHERE rn = 1), "
      + "probes AS (SELECT vec_id AS probe_id, embedding AS p_emb, cell FROM assigned WHERE vec_id < 3), "
      + pdTbls + ", "
      + "cand AS (SELECT a.vec_id, p.probe_id FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.probe_id), "
      + "approx AS (SELECT c.probe_id, c.vec_id, round(pd0.pd + pd1.pd + pd2.pd + pd3.pd, 6) AS approx_d2 "
      + "FROM cand c JOIN at0 ON at0.vec_id = c.vec_id JOIN at1 ON at1.vec_id = c.vec_id "
      + "JOIN at2 ON at2.vec_id = c.vec_id JOIN at3 ON at3.vec_id = c.vec_id "
      + "JOIN pd0 ON pd0.probe_id = c.probe_id AND pd0.cid = at0.c0 "
      + "JOIN pd1 ON pd1.probe_id = c.probe_id AND pd1.cid = at1.c1 "
      + "JOIN pd2 ON pd2.probe_id = c.probe_id AND pd2.cid = at2.c2 "
      + "JOIN pd3 ON pd3.probe_id = c.probe_id AND pd3.cid = at3.c3), "
      + "short AS (SELECT probe_id, vec_id, approx_d2 FROM (SELECT probe_id, vec_id, approx_d2, "
      + "row_number() OVER (PARTITION BY probe_id ORDER BY approx_d2, vec_id) AS r5 FROM approx) WHERE r5 <= 5), "
      + "rr AS (SELECT t.probe_id, t.vec_id, e.label, t.approx_d2, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
      + "(CAST(e.embedding[i] AS DOUBLE) - CAST(p.p_emb[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(p.p_emb[i] AS DOUBLE)))), 6) AS d2 "
      + "FROM short t JOIN embeddings e ON e.vec_id = t.vec_id JOIN probes p ON p.probe_id = t.probe_id) "
      + "SELECT probe_id, rn, vec_id, label, approx_d2, d2 FROM (SELECT probe_id, vec_id, label, approx_d2, d2, "
      + "row_number() OVER (PARTITION BY probe_id ORDER BY d2, vec_id) AS rn FROM rr) WHERE rn <= 3 ORDER BY probe_id, rn")
  }

  /** q370 oracle: Prim's algorithm unrolled to 31 single-edge CTE steps
    * (q279's unrolled-CTE idiom) under the SAME total order (w, va, vb)
    * as the Spark side's Borůvka — two different MST algorithms over
    * the same tie-broken weights must produce the identical tree. */
  private def mstOracleSql: String = {
    // every CTE that is referenced more than once is MATERIALIZED —
    // otherwise DuckDB inlines the whole chain back to the parquet scan
    // per reference and the 31 unrolled steps exhaust file handles
    val steps = (1 to 31).map { k =>
      val t = s"t${k - 1}"
      (s"e$k AS MATERIALIZED (SELECT va, vb, w FROM ed WHERE (va IN (SELECT v FROM $t)) <> (vb IN (SELECT v FROM $t)) "
        + "ORDER BY w, va, vb LIMIT 1), "
        + s"t$k AS MATERIALIZED (SELECT v FROM $t UNION ALL SELECT CASE WHEN va IN (SELECT v FROM $t) THEN vb ELSE va END FROM e$k), "
        + s"m$k AS MATERIALIZED (SELECT * FROM m${k - 1} UNION ALL SELECT * FROM e$k)")
    }.mkString(", ")
    ("WITH probes AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 32), "
      + "pd AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb, round(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> "
      + "(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)) * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))), 6) AS d2 "
      + "FROM probes a JOIN probes b ON a.vec_id < b.vec_id), "
      + "nb AS (SELECT va AS v, d2 FROM pd UNION ALL SELECT vb, d2 FROM pd), "
      + "core AS MATERIALIZED (SELECT v, d2 AS core4 FROM (SELECT v, d2, row_number() OVER (PARTITION BY v ORDER BY d2) AS rn FROM nb) WHERE rn = 4), "
      + "ed AS MATERIALIZED (SELECT pd.va, pd.vb, greatest(ca.core4, cb.core4, pd.d2) AS w "
      + "FROM pd JOIN core ca ON ca.v = pd.va JOIN core cb ON cb.v = pd.vb), "
      + "t0 AS (SELECT 0 AS v), m0 AS (SELECT va, vb, w FROM ed WHERE 1 = 0), "
      + steps + ", "
      + "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges, "
      + "round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_w FROM m31), "
      + "top AS (SELECT va, vb, w FROM m31 ORDER BY w DESC, va, vb LIMIT 5) "
      + "SELECT row_number() OVER (ORDER BY w DESC, va, vb) AS rank, va, vb, w, n_edges, total_w "
      + "FROM top CROSS JOIN tot ORDER BY rank")
  }

  def oracles: Map[String, String] = Map(
    "q370_hdbscan_mst" -> mstOracleSql,
    // q381: every cell's MST recomputed by RECURSIVE PRIM under the
    // same (w, va, vb) total order — a different algorithm from the
    // Spark side's Borůvka, so a shared bug can't cancel; totals agree
    // because all MSTs of a graph share the same weight multiset, and
    // the accumulator is DECIMAL(18,6) in both engines.
    // q396: same prefix as q381 up to `edges`; the ε cut + a RECURSIVE
    // min-label reachability closure give the components; sizes ≥ 3
    // are clusters, the rest (incl. edge-less vectors) noise.
    "q396_hdbscan_clusters" ->
      (s"WITH RECURSIVE $trainSql, "
        + distSql("cent1", "dhx", "ahx") + ", "
        + "av AS (SELECT a.vec_id, a.cid AS cell, e.embedding FROM ahx a JOIN embeddings e USING (vec_id)), "
        + "pd AS (SELECT hi.cell, lo.vec_id AS va, hi.vec_id AS vb, "
        + "round(list_sum(list_transform(range(1, len(lo.embedding) + 1), i -> "
        + "(CAST(lo.embedding[i] AS DOUBLE) - CAST(hi.embedding[i] AS DOUBLE)) * "
        + "(CAST(lo.embedding[i] AS DOUBLE) - CAST(hi.embedding[i] AS DOUBLE)))), 6) AS d2 "
        + "FROM av lo JOIN av hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id), "
        + "sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM av GROUP BY cell), "
        + "nbrs AS (SELECT cell, va AS v, d2 FROM pd UNION ALL SELECT cell, vb AS v, d2 FROM pd), "
        + "core AS (SELECT v, d2 AS core FROM (SELECT n.v, n.d2, "
        + "row_number() OVER (PARTITION BY n.v ORDER BY n.d2) AS rn, s.n_vecs "
        + "FROM nbrs n JOIN sizes s USING (cell)) WHERE rn = least(4, n_vecs - 1)), "
        + "edges AS (SELECT pd.cell, pd.va, pd.vb, greatest(ca.core, cb.core, pd.d2) AS w "
        + "FROM pd JOIN core ca ON ca.v = pd.va JOIN core cb ON cb.v = pd.vb), "
        + "eps AS (SELECT cell, CAST(sum(CAST(w AS DECIMAL(28,6))) AS DOUBLE) / count(*) * 0.8 AS eps "
        + "FROM edges GROUP BY cell), "
        + "cut AS (SELECT e.cell, e.va, e.vb FROM edges e JOIN eps USING (cell) WHERE e.w <= eps.eps), "
        + "adj AS (SELECT cell, va AS v, vb AS u FROM cut UNION ALL SELECT cell, vb AS v, va AS u FROM cut), "
        + "verts AS (SELECT DISTINCT cell, v FROM adj), "
        + "lab AS (SELECT cell, v, v AS l FROM verts "
        + "UNION SELECT a2.cell, a2.v, lab.l FROM lab JOIN adj a2 ON a2.cell = lab.cell AND a2.u = lab.v), "
        + "comp AS (SELECT cell, v, min(l) AS root FROM lab GROUP BY 1, 2), "
        + "cs AS (SELECT cell, root, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY 1, 2), "
        + "cl AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_clusters, max(sz) AS max_cluster, "
        + "CAST(sum(sz) AS BIGINT) AS clustered FROM cs WHERE sz >= 3 GROUP BY cell) "
        + "SELECT CAST(s.cell AS BIGINT) AS cell, s.n_vecs, "
        + "coalesce(cl.n_clusters, 0) AS n_clusters, "
        + "s.n_vecs - coalesce(cl.clustered, 0) AS n_noise, "
        + "coalesce(cl.max_cluster, 0) AS max_cluster "
        + "FROM sizes s LEFT JOIN cl USING (cell) ORDER BY cell"),
    "q381_hdbscan_cells" ->
      (s"WITH RECURSIVE $trainSql, "
        + distSql("cent1", "dhc", "ahc") + ", "
        + "av AS (SELECT a.vec_id, a.cid AS cell, e.embedding FROM ahc a JOIN embeddings e USING (vec_id)), "
        + "pd AS (SELECT hi.cell, lo.vec_id AS va, hi.vec_id AS vb, "
        + "round(list_sum(list_transform(range(1, len(lo.embedding) + 1), i -> "
        + "(CAST(lo.embedding[i] AS DOUBLE) - CAST(hi.embedding[i] AS DOUBLE)) * "
        + "(CAST(lo.embedding[i] AS DOUBLE) - CAST(hi.embedding[i] AS DOUBLE)))), 6) AS d2 "
        + "FROM av lo JOIN av hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id), "
        + "sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM av GROUP BY cell), "
        + "nbrs AS (SELECT cell, va AS v, d2 FROM pd UNION ALL SELECT cell, vb AS v, d2 FROM pd), "
        + "core AS (SELECT v, d2 AS core FROM (SELECT n.v, n.d2, "
        + "row_number() OVER (PARTITION BY n.v ORDER BY n.d2) AS rn, s.n_vecs "
        + "FROM nbrs n JOIN sizes s USING (cell)) WHERE rn = least(4, n_vecs - 1)), "
        + "edges AS (SELECT pd.cell, pd.va, pd.vb, greatest(ca.core, cb.core, pd.d2) AS w "
        + "FROM pd JOIN core ca ON ca.v = pd.va JOIN core cb ON cb.v = pd.vb), "
        + "starts AS (SELECT cell, min(vec_id) AS v0 FROM av GROUP BY cell), "
        + "prim AS ("
        + "SELECT cell, [v0] AS vis, CAST(0 AS DECIMAL(18,6)) AS tot, "
        + "CAST(0 AS DOUBLE) AS maxw, 0 AS step FROM starts "
        + "UNION ALL "
        + "SELECT cell, list_append(vis, CASE WHEN list_contains(vis, me.va) THEN me.vb ELSE me.va END), "
        + "CAST(tot + CAST(me.w AS DECIMAL(18,6)) AS DECIMAL(18,6)), "
        + "greatest(maxw, me.w), step + 1 FROM ("
        + "SELECT p.cell AS cell, p.vis AS vis, p.tot AS tot, p.maxw AS maxw, p.step AS step, "
        + "min(struct_pack(w := e0.w, va := e0.va, vb := e0.vb)) AS me "
        + "FROM prim p JOIN edges e0 ON e0.cell = p.cell "
        + "AND (list_contains(p.vis, e0.va) <> list_contains(p.vis, e0.vb)) "
        + "GROUP BY 1, 2, 3, 4, 5)) "
        + "SELECT CAST(s.cell AS BIGINT) AS cell, s.n_vecs, CAST(p.step AS BIGINT) AS n_edges, "
        + "round(CAST(p.tot AS DOUBLE), 6) AS total_w, p.maxw AS max_w "
        + "FROM sizes s JOIN (SELECT * FROM prim "
        + "QUALIFY row_number() OVER (PARTITION BY cell ORDER BY step DESC) = 1) p USING (cell) "
        + "ORDER BY s.cell"),
    "q368_als_sweep" ->
      ("WITH r AS (SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS r FROM events GROUP BY 1, 2), "
        + "y0 AS (SELECT DISTINCT event_type, CAST(1.0 AS DECIMAL(18,6)) AS y1, "
        + "CAST(CAST('0x' || substr(md5(event_type), 1, 15) AS BIGINT) % 1000 / 1000.0 - 0.5 AS DECIMAL(18,6)) AS y2 FROM r), "
        + "ua AS (SELECT user_id, sum(CAST(y1 * y1 AS DECIMAL(38,12))) AS a11, "
        + "sum(CAST(y1 * y2 AS DECIMAL(38,12))) AS a12, sum(CAST(y2 * y2 AS DECIMAL(38,12))) AS a22, "
        + "sum(CAST(r * y1 AS DECIMAL(38,12))) AS b1, sum(CAST(r * y2 AS DECIMAL(38,12))) AS b2 "
        + "FROM r JOIN y0 USING (event_type) GROUP BY 1), "
        + "ux AS (SELECT user_id, "
        + "CAST(round(((CAST(a22 AS DOUBLE) + 0.1) * CAST(b1 AS DOUBLE) - CAST(a12 AS DOUBLE) * CAST(b2 AS DOUBLE)) / "
        + "((CAST(a11 AS DOUBLE) + 0.1) * (CAST(a22 AS DOUBLE) + 0.1) - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x1, "
        + "CAST(round((-CAST(a12 AS DOUBLE) * CAST(b1 AS DOUBLE) + (CAST(a11 AS DOUBLE) + 0.1) * CAST(b2 AS DOUBLE)) / "
        + "((CAST(a11 AS DOUBLE) + 0.1) * (CAST(a22 AS DOUBLE) + 0.1) - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x2 "
        + "FROM ua), "
        + "ia AS (SELECT event_type, sum(CAST(x1 * x1 AS DECIMAL(38,12))) AS a11, "
        + "sum(CAST(x1 * x2 AS DECIMAL(38,12))) AS a12, sum(CAST(x2 * x2 AS DECIMAL(38,12))) AS a22, "
        + "sum(CAST(r * x1 AS DECIMAL(38,12))) AS b1, sum(CAST(r * x2 AS DECIMAL(38,12))) AS b2 "
        + "FROM r JOIN ux USING (user_id) GROUP BY 1), "
        + "iy AS (SELECT event_type, "
        + "CAST(round(((CAST(a22 AS DOUBLE) + 0.1) * CAST(b1 AS DOUBLE) - CAST(a12 AS DOUBLE) * CAST(b2 AS DOUBLE)) / "
        + "((CAST(a11 AS DOUBLE) + 0.1) * (CAST(a22 AS DOUBLE) + 0.1) - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS n1, "
        + "CAST(round((-CAST(a12 AS DOUBLE) * CAST(b1 AS DOUBLE) + (CAST(a11 AS DOUBLE) + 0.1) * CAST(b2 AS DOUBLE)) / "
        + "((CAST(a11 AS DOUBLE) + 0.1) * (CAST(a22 AS DOUBLE) + 0.1) - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS n2 "
        + "FROM ia), "
        + "fit AS (SELECT round(sqrt(CAST(sum(CAST("
        + "(r - (CAST(x1 AS DOUBLE) * CAST(n1 AS DOUBLE) + CAST(x2 AS DOUBLE) * CAST(n2 AS DOUBLE))) * "
        + "(r - (CAST(x1 AS DOUBLE) * CAST(n1 AS DOUBLE) + CAST(x2 AS DOUBLE) * CAST(n2 AS DOUBLE))) "
        + "AS DECIMAL(28,12))) AS DOUBLE) / count(*)), 6) AS rmse, CAST(count(*) AS BIGINT) AS n_obs "
        + "FROM r JOIN ux USING (user_id) JOIN iy USING (event_type)), "
        + "nu AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM r GROUP BY 1) "
        + "SELECT i.event_type, u.n_users, round(CAST(i.n1 AS DOUBLE), 6) AS y1_new, "
        + "round(CAST(i.n2 AS DOUBLE), 6) AS y2_new, f.rmse, f.n_obs "
        + "FROM iy i JOIN nu u USING (event_type) CROSS JOIN fit f ORDER BY i.event_type"),
    "q367_jl_audit" ->
      ("WITH planes AS (SELECT j, d, 2 * (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 1) - 15 AS w2 "
        + "FROM (SELECT unnest(range(0, 16)) AS j) CROSS JOIN (SELECT unnest(range(1, 65)) AS d)), "
        + "expl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d, "
        + "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS xq FROM embeddings), "
        + "proj AS (SELECT e.vec_id, p.j, CAST(sum(e.xq * p.w2) AS BIGINT) AS y FROM expl e JOIN planes p ON e.d = p.d GROUP BY 1, 2), "
        + "pv AS (SELECT vec_id, CAST(sum(y * y) AS BIGINT) AS py2, list(y ORDER BY j) AS yv FROM proj GROUP BY vec_id), "
        + "nrm AS (SELECT vec_id, CAST(sum(xq * xq) AS BIGINT) AS x2 FROM expl GROUP BY vec_id), "
        + "normr AS (SELECT CAST(py2 AS DOUBLE) / (1360.0 * x2) AS r FROM pv JOIN nrm USING (vec_id)), "
        + "xvs AS (SELECT vec_id, list(xq ORDER BY d) AS xv FROM expl WHERE vec_id < 20 GROUP BY vec_id), "
        + "probes AS (SELECT x.vec_id, x.xv, p.yv FROM xvs x JOIN pv p USING (vec_id)), "
        + "pr AS (SELECT CAST(list_sum(list_transform(range(1, len(a.yv) + 1), i -> (a.yv[i] - b.yv[i]) * (a.yv[i] - b.yv[i]))) AS BIGINT) AS dy2, "
        + "CAST(list_sum(list_transform(range(1, len(a.xv) + 1), i -> (a.xv[i] - b.xv[i]) * (a.xv[i] - b.xv[i]))) AS BIGINT) AS dx2 "
        + "FROM probes a JOIN probes b ON a.vec_id < b.vec_id), "
        + "pairr AS (SELECT CAST(dy2 AS DOUBLE) / (1360.0 * dx2) AS r FROM pr WHERE dx2 > 0), "
        + "st AS (SELECT 'norms' AS scope, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_ratio, "
        + "round(min(r), 6) AS min_ratio, round(max(r), 6) AS max_ratio FROM normr "
        + "UNION ALL SELECT 'pairs', CAST(count(*) AS BIGINT), "
        + "round(CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6), "
        + "round(min(r), 6), round(max(r), 6) FROM pairr) "
        + "SELECT scope, n, mean_ratio, min_ratio, max_ratio FROM st ORDER BY scope"),
    "q295_core_distance" ->
      ("WITH planes AS (SELECT j, d, 2 * (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 1) - 15 AS w2 "
        + "FROM (SELECT unnest(range(0, 8)) AS j) CROSS JOIN (SELECT unnest(range(1, 65)) AS d)), "
        + "expl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq FROM embeddings), "
        + "dots AS (SELECT e.vec_id, p.j, sum(e.xq * p.w2) AS dot FROM expl e JOIN planes p ON e.d = p.d GROUP BY 1, 2), "
        + "buckets AS (SELECT vec_id, sum((CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << j) AS bucket FROM dots GROUP BY vec_id), "
        + "grp AS (SELECT bucket, list_sort(list(vec_id)) AS ds FROM buckets GROUP BY bucket HAVING count(*) > 1 AND count(*) <= 1000), "
        + "pairs AS (SELECT a AS vec_a, x AS vec_b FROM grp, "
        + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS x)), "
        + "pd AS (SELECT p.vec_a, p.vec_b, round(list_sum(list_transform(range(1, len(ea.embedding) + 1), i -> "
        + "(CAST(ea.embedding[i] AS DOUBLE) - CAST(eb.embedding[i] AS DOUBLE)) * (CAST(ea.embedding[i] AS DOUBLE) - CAST(eb.embedding[i] AS DOUBLE)))), 6) AS d2 "
        + "FROM pairs p JOIN embeddings ea ON ea.vec_id = p.vec_a JOIN embeddings eb ON eb.vec_id = p.vec_b), "
        + "nb AS (SELECT vec_a AS v, vec_b AS o, d2 FROM pd UNION ALL SELECT vec_b AS v, vec_a AS o, d2 FROM pd), "
        + "core AS (SELECT v, d2 AS core4 FROM (SELECT v, o, d2, row_number() OVER (PARTITION BY v ORDER BY d2, o) AS rn FROM nb) WHERE rn = 4), "
        + "ed AS (SELECT pd.vec_a, pd.vec_b, pd.d2, ca.core4 AS core_a, cb.core4 AS core_b, "
        + "greatest(ca.core4, cb.core4, pd.d2) AS mreach FROM pd JOIN core ca ON ca.v = pd.vec_a JOIN core cb ON cb.v = pd.vec_b) "
        + "SELECT rank, vec_a, vec_b, d2, core_a, core_b, mreach FROM ("
        + "SELECT vec_a, vec_b, d2, core_a, core_b, mreach, row_number() OVER (ORDER BY mreach, vec_a, vec_b) AS rank FROM ed) "
        + "WHERE rank <= 20 ORDER BY rank"),
    // q221: same rounded-cosine + vec_id-tiebreak idiom as q41's oracle,
    // computed twice (full 64 dims, first 16 dims) per candidate row.
    "q221_matryoshka_recall" ->
      ("WITH probes AS (SELECT vec_id AS probe_id, embedding AS p_emb FROM embeddings WHERE vec_id < 5), "
        + "sim AS (SELECT probe_id, vec_id, "
        + "round(list_sum(list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * CAST(p_emb[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(p_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_full, "
        + "round(list_sum(list_transform(range(1, 17), i -> CAST(embedding[i] AS DOUBLE) * CAST(p_emb[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(range(1, 17), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) * sqrt(list_sum(list_transform(range(1, 17), i -> CAST(p_emb[i] AS DOUBLE) * CAST(p_emb[i] AS DOUBLE))))), 6) AS cos_16 "
        + "FROM embeddings CROSS JOIN probes WHERE vec_id <> probe_id), "
        + "r AS (SELECT probe_id, vec_id, "
        + "row_number() OVER (PARTITION BY probe_id ORDER BY cos_full DESC, vec_id) AS rf, "
        + "row_number() OVER (PARTITION BY probe_id ORDER BY cos_16 DESC, vec_id) AS rt FROM sim) "
        + "SELECT probe_id, CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS overlap10, "
        + "max(CASE WHEN rf = 1 THEN vec_id END) AS top1_full, max(CASE WHEN rt = 1 THEN vec_id END) AS top1_trunc, "
        + "round(CAST(sum(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10.0, 6) AS recall10 "
        + "FROM r WHERE rf <= 10 OR rt <= 10 GROUP BY probe_id ORDER BY probe_id"),
    "q154_embed_norm" ->
      ("WITH ex AS (SELECT generate_subscripts(embedding, 1) AS pos, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), "
        + "st AS (SELECT pos, count(*) AS n, sum(CAST(x AS DECIMAL(28,10))) AS sx, sum(CAST(x * x AS DECIMAL(38,16))) AS sxx FROM ex GROUP BY pos), "
        + "ms AS (SELECT pos, n, CAST(sx AS DOUBLE) / n AS mean, "
        + "sqrt(CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)) AS std FROM st), "
        + "o AS (SELECT ex.pos, count(*) AS n_out FROM ex JOIN ms ON ex.pos = ms.pos "
        + "WHERE abs((x - mean) / std) > 3.0 GROUP BY ex.pos) "
        + "SELECT ms.pos, n, round(mean, 6) AS mean, round(std, 6) AS std, "
        + "CAST(coalesce(n_out, 0) AS BIGINT) AS n_outliers "
        + "FROM ms LEFT JOIN o ON ms.pos = o.pos ORDER BY ms.pos"),
    "q142_ivfpq_search" -> ivfpqSearchSql,
    "q89_pq_encode" ->
      ("WITH " + (0 until 4).map(pqBlockSql).mkString(", ")
        + " SELECT a.vec_id, c0, c1, c2, c3, round(err0 + err1 + err2 + err3, 6) AS err "
        + "FROM at0 a JOIN at1 USING (vec_id) JOIN at2 USING (vec_id) JOIN at3 USING (vec_id) ORDER BY vec_id"),
    "q61_ann_ivf" ->
      (s"WITH $trainSql, "
        + "adist AS (SELECT e.vec_id, e.label, e.embedding, c.cid, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
        + "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS d2 FROM embeddings e CROSS JOIN cent1 c), "
        + "assigned AS (SELECT vec_id, label, embedding, cid AS cell FROM (SELECT vec_id, label, embedding, cid, "
        + "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM adist) WHERE rn = 1), "
        + "probes AS (SELECT vec_id AS probe_id, embedding AS p_emb, cell FROM assigned WHERE vec_id < 3), "
        + "cand AS (SELECT p.probe_id, a.vec_id, a.label, round(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> "
        + "(CAST(a.embedding[i] AS DOUBLE) - CAST(p.p_emb[i] AS DOUBLE)) * (CAST(a.embedding[i] AS DOUBLE) - CAST(p.p_emb[i] AS DOUBLE)))), 6) AS d2 "
        + "FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.probe_id) "
        + "SELECT probe_id, rn, vec_id, label, d2 FROM (SELECT probe_id, vec_id, label, d2, "
        + "row_number() OVER (PARTITION BY probe_id ORDER BY d2, vec_id) AS rn FROM cand) WHERE rn <= 3 ORDER BY probe_id, rn"),
    "q338_mmr_rerank" -> mmrSql,
    "q349_knn_outliers" ->
      (s"WITH $trainSql, "
        + distSql("cent1", "dko", "ako") + ", "
        + "av AS (SELECT a.vec_id, a.cid AS cell, e.embedding FROM ako a JOIN embeddings e USING (vec_id)), "
        + "nd AS (SELECT hi.vec_id, hi.cell, lo.vec_id AS nbr, "
        + "round(list_sum(list_transform(range(1, len(hi.embedding) + 1), i -> "
        + "(CAST(hi.embedding[i] AS DOUBLE) - CAST(lo.embedding[i] AS DOUBLE)) * (CAST(hi.embedding[i] AS DOUBLE) - CAST(lo.embedding[i] AS DOUBLE)))), 6) AS d2 "
        + "FROM av hi JOIN av lo ON lo.cell = hi.cell AND lo.vec_id <> hi.vec_id), "
        + "k5 AS (SELECT vec_id, cell, d2 AS knn5_dist FROM (SELECT vec_id, cell, d2, "
        + "row_number() OVER (PARTITION BY vec_id ORDER BY d2, nbr) AS rn FROM nd) WHERE rn = 5) "
        + "SELECT rk, vec_id, cell, knn5_dist FROM (SELECT vec_id, cell, knn5_dist, "
        + "row_number() OVER (ORDER BY knn5_dist DESC, vec_id) AS rk FROM k5) WHERE rk <= 10 ORDER BY rk"),
    "q342_mi_dims" ->
      ("WITH x AS (SELECT label, generate_subscripts(embedding, 1) AS d, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), "
        + "bounds AS (SELECT d, min(x) AS lo, max(x) AS hi FROM x GROUP BY d), "
        + "cells AS (SELECT x.d, least(CAST(floor((x.x - b.lo) / ((b.hi - b.lo) / 4.0)) AS INT), 3) AS bin, label, "
        + "CAST(count(*) AS BIGINT) AS c FROM x JOIN bounds b ON x.d = b.d GROUP BY 1, 2, 3), "
        + "nt AS (SELECT d, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY d), "
        + "pb AS (SELECT d, bin, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1, 2), "
        + "pl AS (SELECT d, label, CAST(sum(c) AS BIGINT) AS cl FROM cells GROUP BY 1, 2), "
        + "mi AS (SELECT c2.d, max(n.n) AS n, "
        + "CAST(sum(CAST((CAST(c2.c AS DOUBLE) / n.n) * ln(CAST(c2.c AS DOUBLE) * n.n / (CAST(pb.cb AS DOUBLE) * pl.cl)) AS DECIMAL(28,12))) AS DOUBLE) AS mix "
        + "FROM cells c2 JOIN pb ON pb.d = c2.d AND pb.bin = c2.bin "
        + "JOIN pl ON pl.d = c2.d AND pl.label = c2.label JOIN nt n ON n.d = c2.d GROUP BY c2.d) "
        + "SELECT d AS dim, n, round(mix, 6) AS mi FROM mi ORDER BY mi DESC, dim LIMIT 10"),
    "q339_semdedup" ->
      (s"WITH $trainSql, "
        + distSql("cent1", "dsd", "asd") + ", "
        + "av AS (SELECT a.vec_id, a.cid AS cell, e.embedding FROM asd a JOIN embeddings e USING (vec_id)), "
        + "dups AS (SELECT DISTINCT hi.cell, hi.vec_id FROM av hi JOIN av lo "
        + "ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id "
        + s"WHERE ${cosSql("hi.embedding", "lo.embedding")} >= 0.35), "
        + "cells AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM av GROUP BY cell), "
        + "dd AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_dup FROM dups GROUP BY cell) "
        + "SELECT c.cell, c.n_vecs, coalesce(dd.n_dup, 0) AS n_dropped, "
        + "c.n_vecs - coalesce(dd.n_dup, 0) AS n_kept, "
        + "round(CAST(coalesce(dd.n_dup, 0) AS DOUBLE) / c.n_vecs, 6) AS drop_rate "
        + "FROM cells c LEFT JOIN dd ON dd.cell = c.cell ORDER BY c.cell"),
    "q336_ivf_probe_sweep" ->
      (s"WITH $trainSql, "
        + distSql("cent1", "dsw", "asw") + ", "
        + "probes AS (SELECT vec_id AS probe_id, embedding AS p_emb FROM embeddings WHERE vec_id < 10), "
        + "crd AS (SELECT p.probe_id, c.cid, round(list_sum(list_transform(range(1, len(p.p_emb) + 1), i -> "
        + "(CAST(p.p_emb[i] AS DOUBLE) - c.cvec[i]) * (CAST(p.p_emb[i] AS DOUBLE) - c.cvec[i]))), 6) AS pd "
        + "FROM probes p CROSS JOIN cent1 c), "
        + "cr AS (SELECT probe_id, cid AS cell, row_number() OVER (PARTITION BY probe_id ORDER BY pd, cid) AS crank FROM crd), "
        + "td AS (SELECT p.probe_id, e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
        + "(CAST(e.embedding[i] AS DOUBLE) - CAST(p.p_emb[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(p.p_emb[i] AS DOUBLE)))), 6) AS d2 "
        + "FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id), "
        + "truth AS (SELECT probe_id, vec_id FROM (SELECT probe_id, vec_id, "
        + "row_number() OVER (PARTITION BY probe_id ORDER BY d2, vec_id) AS rn FROM td) WHERE rn <= 10), "
        + "cand AS (SELECT cr.probe_id, a.vec_id, cr.crank FROM cr JOIN asw a ON a.cid = cr.cell WHERE a.vec_id <> cr.probe_id), "
        + "lv AS (SELECT unnest([1, 2, 4, 10]) AS np), "
        + "nc AS (SELECT l.np, c.probe_id, count(*) AS n_cand FROM lv l, cand c WHERE c.crank <= l.np GROUP BY 1, 2), "
        + "nh AS (SELECT l.np, t.probe_id, count(*) AS n_hit FROM lv l, truth t JOIN cand c "
        + "ON c.probe_id = t.probe_id AND c.vec_id = t.vec_id WHERE c.crank <= l.np GROUP BY 1, 2), "
        + "grid AS (SELECT np, probe_id FROM lv CROSS JOIN probes), "
        + "agg AS (SELECT g.np, count(*) AS n_probes, CAST(sum(coalesce(nc.n_cand, 0)) AS BIGINT) AS total_cand, "
        + "CAST(sum(coalesce(nh.n_hit, 0)) AS BIGINT) AS total_hits "
        + "FROM grid g LEFT JOIN nc ON nc.np = g.np AND nc.probe_id = g.probe_id "
        + "LEFT JOIN nh ON nh.np = g.np AND nh.probe_id = g.probe_id GROUP BY g.np) "
        + "SELECT np, n_probes, total_cand, total_hits, "
        + "round(CAST(total_cand AS DOUBLE) / n_probes, 6) AS mean_cand, "
        + "round(CAST(total_hits AS DOUBLE) / (n_probes * 10.0), 6) AS mean_recall_at_10 FROM agg ORDER BY np"),
    "q62_dedup_embed" ->
      ("WITH planes AS (SELECT j, d, 2 * (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 1) - 15 AS w2 "
        + "FROM (SELECT unnest(range(0, 8)) AS j) CROSS JOIN (SELECT unnest(range(1, 65)) AS d)), "
        + "expl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq FROM embeddings), "
        + "dots AS (SELECT e.vec_id, p.j, sum(e.xq * p.w2) AS dot FROM expl e JOIN planes p ON e.d = p.d GROUP BY 1, 2), "
        + "buckets AS (SELECT vec_id, sum((CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << j) AS bucket FROM dots GROUP BY vec_id), "
        + "grp AS (SELECT bucket, list_sort(list(vec_id)) AS ds FROM buckets GROUP BY bucket HAVING count(*) > 1 AND count(*) <= 1000), "
        + "pairs AS (SELECT a AS vec_a, x AS vec_b FROM grp, "
        + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS x)) "
        + "SELECT p.vec_a, p.vec_b, ea.label AS label_a, eb.label AS label_b, "
        + "round(list_sum(list_transform(range(1, len(ea.embedding) + 1), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos "
        + "FROM pairs p JOIN embeddings ea ON ea.vec_id = p.vec_a JOIN embeddings eb ON eb.vec_id = p.vec_b "
        + "WHERE round(list_sum(list_transform(range(1, len(ea.embedding) + 1), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.4 "
        + "ORDER BY vec_a, vec_b"),
    // q394: cent1 replayed via trainSql; the two nearest cells per
    // vector via the same (d2, cid)-ordered window; identical decimal
    // choreography.
    "q394_silhouette" ->
      (s"WITH $trainSql, "
        + "dall AS (SELECT e.vec_id, c.cid, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
        + "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS d2c "
        + "FROM embeddings e CROSS JOIN cent1 c), "
        + "two AS (SELECT vec_id, min(CASE WHEN rn = 1 THEN cid END) AS cid, "
        + "min(CASE WHEN rn = 1 THEN d2c END) AS a2, min(CASE WHEN rn = 2 THEN d2c END) AS b2 "
        + "FROM (SELECT vec_id, cid, d2c, row_number() OVER (PARTITION BY vec_id ORDER BY d2c, cid) AS rn FROM dall) "
        + "WHERE rn <= 2 GROUP BY vec_id), "
        + "sc AS (SELECT cid, CAST((sqrt(b2) - sqrt(a2)) / nullif(greatest(sqrt(a2), sqrt(b2)), 0.0) AS DECIMAL(28,12)) AS sil FROM two) "
        + "SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs, "
        + "round(CAST(sum(sil) AS DOUBLE) / count(*), 6) AS mean_sil, "
        + "round(CAST(min(sil) AS DOUBLE), 6) AS min_sil, "
        + "round(CAST(max(sil) AS DOUBLE), 6) AS max_sil "
        + "FROM sc GROUP BY cid ORDER BY cid"),
    "q65_kmeans_train" ->
      (s"WITH $trainSql, "
        + distSql("cent1", "d2t", "a2") + " "
        + "SELECT cid, count(*) AS n_vecs, round(CAST(sum(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE), 6) AS inertia "
        + "FROM a2 GROUP BY cid ORDER BY cid"),
    "q232_isotropy" ->
      ("WITH e AS (SELECT embedding, sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings), "
        + "f AS MATERIALIZED (SELECT * FROM e WHERE nrm > 0.0), "
        + "ns AS (SELECT count(*) AS n_vecs, sum(CAST(nrm AS DECIMAL(28,12))) AS snrm, "
        + "sum(CAST(nrm * nrm AS DECIMAL(38,12))) AS snrm2 FROM f), "
        + "dm AS (SELECT i, sum(CAST(CAST(x AS DOUBLE) / nrm AS DECIMAL(28,12))) AS su, count(*) AS n "
        + "FROM (SELECT nrm, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM f) GROUP BY i), "
        + "an AS (SELECT count(*) AS dim, sum(CAST((CAST(su AS DOUBLE) / n) * (CAST(su AS DOUBLE) / n) AS DECIMAL(28,12))) AS sa FROM dm) "
        + "SELECT n_vecs, dim, round(CAST(snrm AS DOUBLE) / n_vecs, 6) AS mean_norm, "
        + "round(sqrt(greatest(CAST(snrm2 AS DOUBLE) / n_vecs - (CAST(snrm AS DOUBLE) / n_vecs) * (CAST(snrm AS DOUBLE) / n_vecs), 0.0)), 6) AS std_norm, "
        + "round(CAST(sa AS DOUBLE), 6) AS anisotropy FROM ns CROSS JOIN an"),
    "q233_effective_dim" ->
      ("WITH ex AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings), "
        + "pd AS (SELECT i, count(*) AS n, sum(CAST(x AS DECIMAL(28,10))) AS sx, "
        + "sum(CAST(x * x AS DECIMAL(38,16))) AS sxx FROM ex GROUP BY i), "
        + "lm AS (SELECT n, CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS lam FROM pd), "
        + "a AS (SELECT max(n) AS n_vecs, count(*) AS dim, sum(CAST(lam AS DECIMAL(28,12))) AS tv, "
        + "sum(CAST(lam * lam AS DECIMAL(28,12))) AS tv2 FROM lm) "
        + "SELECT CAST(n_vecs AS BIGINT) AS n_vecs, dim, round(CAST(tv AS DOUBLE), 6) AS total_var, "
        + "round(CAST(tv AS DOUBLE) / dim, 6) AS mean_var, "
        + "round(CAST(tv AS DOUBLE) * CAST(tv AS DOUBLE) / CAST(tv2 AS DOUBLE), 6) AS effective_dim FROM a"),
    // q235: the matrix-free Spark plan mirrored CTE-for-CTE — per-dim
    // sufficient statistics, all-ones init, three (dot → per-dim x·d
    // contraction → normalize) iterations, then ‖C·v₃‖ / tr(C) /
    // argmax-|v|. Same DECIMAL choreography at every step; iterated
    // frames AS MATERIALIZED (q228's lesson).
    "q235_pca_power" -> {
      def matvec(vk: String, wk: String): String =
        (s"va$wk AS (SELECT list(v ORDER BY p) AS va FROM $vk), "
          + s"muv$wk AS (SELECT CAST(sum(CAST(pd.m * v.v AS DECIMAL(28,12))) AS DOUBLE) AS mv FROM pd JOIN $vk v ON v.p = pd.p), "
          + s"d$wk AS (SELECT embedding, list_sum(list_transform(range(1, len(embedding) + 1), i -> "
          + s"CAST(embedding[i] AS DOUBLE) * va[i])) AS d FROM embeddings, va$wk), "
          + s"$wk AS MATERIALIZED (SELECT s.p, CAST(s.sxd AS DOUBLE) / s.n - pd.m * muv.mv AS w FROM "
          + s"(SELECT i - 1 AS p, count(*) AS n, sum(CAST(CAST(x AS DOUBLE) * d AS DECIMAL(38,16))) AS sxd FROM "
          + s"(SELECT d, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i FROM d$wk) GROUP BY i) s "
          + s"JOIN pd ON pd.p = s.p, muv$wk muv)")
      val iters = (0 until 3).map(i =>
        matvec(s"v$i", s"w${i + 1}") + ", "
          + s"n${i + 1} AS (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm FROM w${i + 1}), "
          + s"v${i + 1} AS MATERIALIZED (SELECT p, w / nrm AS v FROM w${i + 1} CROSS JOIN n${i + 1})")
        .mkString(", ")
      ("WITH pd AS MATERIALIZED (SELECT i - 1 AS p, count(*) AS n, "
        + "CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS m, "
        + "CAST(sum(CAST(x * x AS DECIMAL(38,16))) AS DOUBLE) AS sxx FROM "
        + "(SELECT CAST(unnest(embedding) AS DOUBLE) AS x, generate_subscripts(embedding, 1) AS i FROM embeddings) GROUP BY i), "
        + "tr AS (SELECT max(n) AS n_vecs, CAST(sum(CAST(sxx / n - m * m AS DECIMAL(28,12))) AS DOUBLE) AS trace FROM pd), "
        + "v0 AS (SELECT p, 1.0 AS v FROM pd), "
        + s"$iters, "
        + matvec("v3", "wf") + ", "
        + "top AS (SELECT p + 1 AS top_dim, round(abs(v), 6) AS top_loading FROM v3 ORDER BY round(abs(v), 6) DESC, p LIMIT 1), "
        + "lf AS (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS lambda1 FROM wf) "
        + "SELECT CAST(n_vecs AS BIGINT) AS n_vecs, round(lambda1, 6) AS lambda1, round(trace, 6) AS trace, "
        + "round(lambda1 / trace, 6) AS explained_share, top_dim, top_loading "
        + "FROM lf CROSS JOIN tr CROSS JOIN top")
    },
    "q247_int8_recall" ->
      ("WITH sc AS (SELECT pos, max(abs(CAST(x AS DOUBLE))) AS s FROM "
        + "(SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x FROM embeddings) GROUP BY pos), "
        + "sv AS (SELECT list(s ORDER BY pos) AS sv FROM sc), "
        + "q AS (SELECT vec_id, embedding, list_transform(range(1, len(embedding) + 1), i -> "
        + "CASE WHEN sv[i] = 0.0 THEN 0 ELSE CAST(round(127.0 * CAST(embedding[i] AS DOUBLE) / sv[i]) AS INT) END) AS qv "
        + "FROM embeddings CROSS JOIN sv), "
        + "qn AS (SELECT vec_id, embedding, qv, list_sum(list_transform(qv, a -> CAST(a AS BIGINT) * a)) AS qn FROM q), "
        + "probes AS (SELECT vec_id AS probe_id, embedding AS p_emb, qv AS p_qv, qn AS p_qn FROM qn WHERE vec_id < 5), "
        + "exact AS (SELECT probe_id, vec_id FROM (SELECT p.probe_id, e.vec_id, row_number() OVER (PARTITION BY p.probe_id ORDER BY "
        + "round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.p_emb[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        + "sqrt(list_sum(list_transform(p.p_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) DESC, e.vec_id) AS rn "
        + "FROM embeddings e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id) WHERE rn <= 10), "
        + "approx AS (SELECT probe_id, vec_id FROM (SELECT p.probe_id, c.vec_id, row_number() OVER (PARTITION BY p.probe_id ORDER BY "
        + "round(CAST(list_sum(list_transform(range(1, len(c.qv) + 1), i -> CAST(c.qv[i] AS BIGINT) * p.p_qv[i])) AS DOUBLE) / "
        + "(sqrt(CAST(c.qn AS DOUBLE)) * sqrt(CAST(p.p_qn AS DOUBLE))), 6) DESC, c.vec_id) AS rn "
        + "FROM qn c CROSS JOIN probes p WHERE c.vec_id <> p.probe_id) WHERE rn <= 10), "
        + "ov AS (SELECT e.probe_id, CAST(count(*) AS BIGINT) AS ov FROM exact e JOIN approx a "
        + "ON e.probe_id = a.probe_id AND e.vec_id = a.vec_id GROUP BY 1), "
        + "err AS (SELECT round(CAST(sum(CAST(re AS DECIMAL(28,12))) AS DOUBLE) / (count(*) * 64), 6) AS mean_abs_err FROM "
        + "(SELECT list_sum(list_transform(range(1, len(embedding) + 1), i -> abs(CAST(embedding[i] AS DOUBLE) - "
        + "CASE WHEN sv[i] = 0.0 THEN 0.0 ELSE round(127.0 * CAST(embedding[i] AS DOUBLE) / sv[i]) * sv[i] / 127.0 END))) AS re "
        + "FROM embeddings CROSS JOIN sv)) "
        + "SELECT p.probe_id, coalesce(ov, 0) AS n_overlap, round(coalesce(ov, 0) / 10.0, 6) AS recall_at_10, mean_abs_err "
        + "FROM probes p LEFT JOIN ov ON ov.probe_id = p.probe_id CROSS JOIN err ORDER BY p.probe_id"),
    "q251_label_separation" ->
      ("WITH e AS (SELECT vec_id, label, embedding, "
        + "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings), "
        + "x AS (SELECT label, generate_subscripts(embedding, 1) AS pos, "
        + "CAST(round(CAST(unnest(embedding) AS DOUBLE) / nrm, 6) AS DECIMAL(18,6)) AS nv FROM e), "
        + "lp AS (SELECT label, pos, sum(nv) AS sd FROM x GROUP BY 1, 2), "
        + "rr AS (SELECT label, sum(CAST(CAST(nv AS DOUBLE) * CAST(nv AS DOUBLE) AS DECIMAL(28,12))) AS rr FROM x GROUP BY label), "
        + "nl AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label), "
        + "s2 AS (SELECT label, sum(CAST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS DECIMAL(38,12))) AS s2 FROM lp GROUP BY label), "
        + "t2 AS (SELECT sum(CAST(CAST(td AS DOUBLE) * CAST(td AS DOUBLE) AS DECIMAL(38,12))) AS t2 FROM "
        + "(SELECT pos, sum(sd) AS td FROM lp GROUP BY pos)), "
        + "tt AS (SELECT CAST(sum(n) AS BIGINT) AS ntot, CAST(sum(n * n) AS BIGINT) AS n2 FROM nl), "
        + "ss AS (SELECT sum(s2) AS ss2 FROM s2), "
        + "bt AS (SELECT round(CAST(t2 - ss2 AS DOUBLE) / (ntot * ntot - n2), 6) AS between_mean_cos FROM t2 CROSS JOIN ss CROSS JOIN tt), "
        + "w AS (SELECT nl.label, n, round(CAST(s2 - rr AS DOUBLE) / (n * CAST(n - 1 AS DOUBLE)), 6) AS within_mean_cos, between_mean_cos "
        + "FROM nl JOIN s2 USING (label) JOIN rr USING (label) CROSS JOIN bt) "
        + "SELECT label, n, within_mean_cos, between_mean_cos, "
        + "round(within_mean_cos - between_mean_cos, 6) AS separation FROM w ORDER BY label"),
  )
}
