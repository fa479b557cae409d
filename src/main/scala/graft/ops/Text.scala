package graft.ops

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9: text analysis, deduplication, and similarity search —
  * the LLM-training-data-pipeline operators (BASELINE.json north star).
  *
  * Scale design notes:
  *  - Tokenize→explode→count pipelines are single-shuffle with map-side
  *    partial aggregation; all lambdas are codegen'd HOFs (no UDFs).
  *  - Near-dup candidate generation (q40) uses 5-word shingles as the
  *    blocking key — the standard candidate-filter contraction: only
  *    documents sharing a full shingle ever meet in the join, so pair
  *    count is bounded by shingle collision rate, not |docs|² (verified:
  *    37 candidate pairs from 5k docs at sf0.01).
  *  - Vector similarity (q41/q42) computes dot/norm per row via
  *    sequential in-row folds (deterministic accumulation order, matching
  *    DuckDB's list_sum over the same list), ranks on the ROUNDED
  *    similarity so both engines agree at ties, and bounds work by a
  *    fixed probe set (brute force is the oracle-able baseline; the
  *    LSH-bucketed scale path is Extensions.q55).
  *  - String sim-join (q43) contracts to DISTINCT names first (64 names
  *    regardless of SF) — the distinct-value contraction makes the
  *    quadratic levenshtein step O(names²), independent of table size.
  */
object Text extends QueryPack {

  /** Blocking-key document-frequency cap: shingles shared by more docs
    * than this are dropped as blocking keys (hot-bucket OOM guard). */
  val maxShingleDf = 1000L

  /** doc_id → exploded non-empty tokens (position retained). */
  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")

  def queries: Map[String, Q] = Map[String, Q](
    // ------------------------------------------------------------------
    // BPE merge-candidate statistics (the first iteration of tokenizer
    // training): most frequent adjacent character pairs corpus-wide.
    // The corpus contracts to the VOCABULARY first (one partial-agg
    // shuffle: distinct token → frequency), then pairs expand only the
    // vocab-sized frame — the classic BPE trick that makes tokenizer
    // training on 100 TB feasible: pair work scales with |vocab|, not
    // corpus size. An adjacent char pair IS substr(tok, i, 2), so the
    // expansion is a pure string slice. Top-20 via orderBy+limit.
    "q155_bpe_pairs" -> ((s, dir) => {
      val vocab = tokens(s, dir)
        .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        .filter(length(col("tok")) >= 2)
      vocab
        .select(col("tok"), col("freq"), explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))")).as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("freq")).as("total"),
          countDistinct(col("tok")).as("n_types"))
        .orderBy(col("total").desc, col("pair"))
        .limit(20)
    }),

    // ------------------------------------------------------------------
    // Top-10 terms per language (count desc, term asc) — partitioned
    // window over pre-aggregated (lang, tok) counts, never over raw rows.
    "q36_wordcount" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tok"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .orderBy(col("lang"), col("rn"))
    }),

    // ------------------------------------------------------------------
    // tf-idf: tf = term count in doc; idf = ln((N+1)/(df+1)); top-5
    // terms per doc by rounded score. All relational — two shuffles
    // (doc-term counts, df counts) + a broadcast-able df join.
    "q37_tfidf" -> ((s, dir) => {
      val tf = tokens(s, dir).groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
      tf.join(df, "tok").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("rn"), col("tok"), col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // ------------------------------------------------------------------
    // Word bigrams via a positional HOF (no self-join): global top-50.
    // Bigrams via the native `sliding_gen` GENERATOR (SlidingGen.scala):
    // windows stream straight out of GenerateExec — no index array and
    // no transformed copy of the token array is materialized per row
    // (the HOF form this replaced built both). Short docs emit zero
    // windows by the generator's contract, matching DuckDB's range().
    "q38_ngrams" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(split(col("text"), " ").as("w"))
        .select(expr("sliding_gen(w, 2)").as(Seq("pos", "win")))
        .select(expr("array_join(win, ' ')").as("bigram"))
        .filter(!col("bigram").startsWith(" ") && !col("bigram").endsWith(" "))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(50)
    }),

    // ------------------------------------------------------------------
    // Exact dedup: keep the lowest doc_id per identical text; report how
    // many copies it stood for. row_number (not dropDuplicates) so the
    // survivor choice is deterministic on both engines.
    "q39_dedup_exact" -> ((s, dir) => {
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("copies", count(lit(1)).over(Window.partitionBy(col("text"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("copies"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Near-dup pairs: candidate pairs share ≥1 5-word shingle (blocking
    // key), then exact Jaccard over each pair's full shingle SETS; keep
    // jaccard ≥ 0.01 (candidates are already rare — see header).
    "q40_dedup_near" -> ((s, dir) =>
      nearDupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // ------------------------------------------------------------------
    // Dedup-cluster consolidation: q40's near-dup PAIRS are only half
    // the dedup story — transitive groups must collapse to one survivor.
    // Connected components by pointer-jumped min-label propagation over
    // the pair graph, run to a certified fixpoint ([[ccMinLabels]]:
    // O(log diameter) passes, zero-labels-changed exit — this IS
    // large-scale CC, the GraphX/Pregel shape in plain DataFrames).
    // Each pass localCheckpoints: iterative plans otherwise grow
    // exponentially deep lineage, the standard Spark iterative-algo
    // practice.
    "q80_dedup_clusters" -> ((s, dir) => {
      ccLabels(s, dir).groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc")).as("min_doc"),
          max(col("doc")).as("max_doc"))
        .select(col("lbl").as("cluster"), col("n_docs"), col("min_doc"), col("max_doc"))
        .orderBy(col("cluster"))
    }),

    // ------------------------------------------------------------------
    // Newman MODULARITY of the source partition on the near-dup graph
    // — "do duplicates stay inside their source?" as ONE graph-level
    // scalar (q179 counts cross-source gram overlap; q174 reads degree
    // assortativity; modularity scores an explicit community
    // partition): Q = Σ_c [e_c/m − (d_c/2m)²] over the memoized q40
    // pair graph with communities = doc source. High Q ⟹ near-dups are
    // intra-source (dedup can shard by source); Q ≈ 0 ⟹ cross-source
    // dup mass (global dedup required) — a real curation routing
    // decision. All counts exact integers off the checkpointed
    // labeled-edge frame; per-source contributions quantize
    // DECIMAL(28,12) before the ≤|sources|-cell total.
    "q347_graph_modularity" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val srcs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val lab = pairs
        .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .localCheckpoint() // m + endpoint + intra rollups share it
      val m = lab.agg(count(lit(1)).as("m"))
      val ends = lab.select(col("sa").as("source"))
        .union(lab.select(col("sb").as("source")))
        .groupBy(col("source")).agg(count(lit(1)).as("deg"))
      val intra = lab.filter(col("sa") === col("sb"))
        .groupBy(col("sa").as("source")).agg(count(lit(1)).as("e_in"))
      val nodes = pairs.select(col("doc_a").as("doc"))
        .union(pairs.select(col("doc_b").as("doc"))).distinct()
        .join(srcs.select(col("doc_id").as("doc"), col("source")), "doc")
        .groupBy(col("source")).agg(count(lit(1)).as("n_nodes"))
      val parts = nodes.join(ends, "source")
        .join(intra, Seq("source"), "left")
        .crossJoin(broadcast(m))
        .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
        .withColumn("contrib", expr(
          "cast(e_in as double) / m - (cast(deg as double) / (2.0d * m)) * (cast(deg as double) / (2.0d * m))"))
        .localCheckpoint() // total + output rows
      val q = parts.agg(sum(expr("cast(contrib as decimal(28,12))")).as("qx"))
      parts.crossJoin(broadcast(q))
        .select(col("source"), col("n_nodes"), col("e_in").as("intra_edges"),
          col("deg").as("degree_sum"), round(col("contrib"), 6).as("contribution"),
          round(expr("cast(qx as double)"), 6).as("modularity"))
        .orderBy(col("source"))
    }),

    // ------------------------------------------------------------------
    // PageRank (3 iterations, damping 0.85) over the q40 near-dup pair
    // graph — centrality of documents inside their duplicate
    // neighborhoods (a canonical iterative DataFrame algorithm, same
    // localCheckpoint-per-iteration shape as q80's components). Each
    // neighbor contribution r/deg is quantized to DECIMAL(28,18)
    // before the distributed sum so merge order cannot move a ULP; the
    // rank update then happens once per node in double. Every node has
    // in-edges (the graph is symmetrized), so no dangling-mass term.
    "q112_pagerank" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val edges = pairs.union(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("u", "v").localCheckpoint()
      val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      val n = deg.agg(count(lit(1)).as("n"))
      var rank = deg.crossJoin(broadcast(n))
        .select(col("u").as("doc"), col("deg"), col("n"),
          (lit(1.0) / col("n")).as("r"))
        .localCheckpoint()
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(rank.select(col("doc").as("u"), (col("r") / col("deg")).cast("decimal(28,18)").as("c")), "u")
          .groupBy(col("v")).agg(sum(col("c")).as("in_sum"))
        rank = rank
          .join(contrib, rank("doc") === contrib("v"))
          .select(col("doc"), col("deg"), col("n"),
            round(lit(0.15) / col("n") + lit(0.85) * col("in_sum").cast("double"), 12).as("r"))
          .localCheckpoint()
      }
      rank.select(col("doc"), col("deg"), round(col("r"), 6).as("rank"))
        .orderBy(col("rank").desc, col("doc"))
    }),

    // ------------------------------------------------------------------
    // Triangle count + global clustering coefficient of the near-dup
    // graph (how clique-like the duplicate neighborhoods are). The
    // node-iterator join: ordered edges (u<v) self-joined v→w, closed
    // by an existence join on (u,w) — every join is an equi-join on a
    // node key, the distributed-triangle shape (at 100 TB you'd also
    // degree-order nodes to bound the wedge side; this corpus's
    // components are tiny). Triads come from exact per-node degrees.
    "q120_triangles" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir)
        .select(col("doc_a").as("u"), col("doc_b").as("v")) // already u<v
        .localCheckpoint() // wedge + closure + degree branches
      val wedges = pairs.as("e1")
        .join(pairs.as("e2"), col("e1.v") === col("e2.u"))
        .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      val tri = wedges.join(pairs,
        wedges("a") === pairs("u") && wedges("c") === pairs("v"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = pairs.select(col("u").as("d")).union(pairs.select(col("v").as("d")))
        .groupBy(col("d")).agg(count(lit(1)).as("deg"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("deg")) / 2).cast("bigint").as("n_edges"),
        sum((col("deg") * (col("deg") - 1)) / 2).cast("bigint").as("n_triads"))
      stats.crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triads"), col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_triads"), 6).as("clustering"))
    }),
  ) ++ moreQueries

  /** q40's near-dup pair pipeline (shared with q80's clustering):
    * 5-word-shingle blocking key → df-capped group-then-expand →
    * exact Jaccard per candidate pair, keep ≥ 0.01. */
  /** MEMOIZED per (session, sfDir), mirroring Vectors.trainedCodebook:
    * six queries (q40/q80/q112/q120/q174/q175) consume the SAME
    * candidate-pair graph, and each used to re-run the full shingle →
    * block → expand pipeline per invocation (×2 Bench passes). The
    * memo holds one localCheckpoint'd pair frame — tiny (pairs are
    * collision-rare by construction) and deterministic, so sharing it
    * is semantics-free. At 100 TB this IS the materialized dedup
    * candidate table every downstream graph job reads. */
  private[ops] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    Memo.perSession(s, s"nearDupPairs|$dir") {
      nearDupPairsUncached(s, dir).localCheckpoint()
    }

  /** Distinct (doc_id, h) frame of md5-hashed 8-grams over documents
    * with ≥ 8 words — the shared contraction behind q151 (inter-doc
    * duplication) and q216 (split novelty). Only 64-bit hashes ever
    * shuffle, never text (identity modulus 2^63−1 keeps the full
    * 15-hex-digit value). MEMOIZED per (session, sfDir) like
    * [[nearDupPairs]]: the two queries — and Bench's min-of-2 passes —
    * used to each rebuild the tokenize → explode → hash → distinct
    * pipeline per invocation; at 100 TB this is the materialized gram
    * index both read. */
  private[ops] def hashedGrams8(s: SparkSession, dir: String): DataFrame =
    Memo.perSession(s, s"hashedGrams8|$dir") {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 7), i -> " +
            "md5_mod(concat_ws(' ', slice(w, i, 8)), 9223372036854775807L))")).as("h"))
        .distinct()
        .localCheckpoint()
    }

  /** Connected-component min-labels over a SYMMETRIC (u,v) edge frame:
    * pointer-jumped min-label propagation run to an EXPLICIT fixpoint.
    * Each pass takes the neighborhood min (distance 1) and then
    * compresses labels through themselves (lbl ← lbl(lbl)), so covered
    * distance roughly DOUBLES per pass — a fixed k-pass propagation
    * silently under-merges any component of diameter > k, the failure
    * mode a 100× corpus with long dup-chains would hit. Convergence is
    * certified, not assumed: the loop exits only when a pass changes
    * ZERO labels (the per-pass changed-count is a scalar driver action
    * over the already-checkpointed frame — the same constant-size
    * pattern as cumCounts' partition counters, never a data-sized
    * collect). Fixpoint labels == per-component min doc id (union-find
    * semantics), so downstream oracles are iteration-count independent.
    * localCheckpoint per pass keeps iterative lineage flat. */
  private[ops] def ccMinLabels(edges: DataFrame): DataFrame = {
    var labels = edges.select(col("u").as("doc")).distinct()
      .withColumn("lbl", col("doc")).localCheckpoint()
    var changed = 1L
    var pass = 0
    while (changed > 0) {
      pass += 1
      require(pass <= 40, "ccMinLabels: no fixpoint after 40 passes (2^40 diameter?)")
      val prop = labels
        .union(edges.join(labels.withColumnRenamed("doc", "v"), "v")
          .select(col("u").as("doc"), col("lbl")))
        .groupBy(col("doc")).agg(min(col("lbl")).as("lbl"))
      val jumped = prop
        .join(prop.select(col("doc").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
        .select(col("doc"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint()
      changed = jumped.join(labels.select(col("doc"), col("lbl").as("prev")), "doc")
        .filter(col("lbl") =!= col("prev")).count()
      labels = jumped
    }
    labels
  }

  /** Connected-component labels over the [[nearDupPairs]] graph via
    * [[ccMinLabels]]. Shared by q80 (cluster rollup), q229 (cluster-size
    * distribution) and q239 (savings report); the pair graph itself is
    * the memoized checkpoint, so the fixpoint loop runs over a tiny
    * frame. */
  private def ccLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("u", "v").localCheckpoint()
    ccMinLabels(edges)
  }

  private def nearDupPairsUncached(s: SparkSession, dir: String): DataFrame = {
      // Shingle sets via explode + hash-agg distinct (measured FASTER
      // than in-row array_distinct, whose pairwise compares are O(n²)
      // per row over ~60-element string arrays).
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 4), i -> concat_ws(' ', slice(w, i, 5)))"))
          .as("sh"))
        .distinct()
        // materialized once: four plan branches consume the shingle set
        // (sizes ×2, df-filter, pair grouping) and would otherwise each
        // replay the tokenize+explode+distinct subtree (4 scans in the
        // un-checkpointed plan)
        .localCheckpoint()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      // Pair generation via group-then-expand, NOT a self-join: one
      // shuffle keyed by shingle, pairs expanded from each (rare)
      // multi-doc group — a 3M⋈3M string sort-merge join (31 s at
      // sf0.1) becomes a single groupBy (≈4 s).
      // Hot-bucket guard: a ubiquitous shingle ("click here to" at
      // 100 TB) would make one collect_list group arbitrarily large and
      // OOM its task, so shingles with df outside (1, 1000] are dropped
      // BEFORE grouping — the standard stopword-shingle filter (a
      // shingle shared by >1000 docs carries no blocking information;
      // observed max df on this corpus is 4, so results are unchanged).
      // Bound proven by HotShingleSpec.
      val keep = sh.groupBy(col("sh"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > 1 && col("df") <= Text.maxShingleDf)
        .select(col("sh"))
      val inter = sh.join(keep, "sh")
        .groupBy(col("sh"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .select(explode(expr(
          "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
        .withColumn("jaccard", round(col("inter") / (col("na") + col("nb") - col("inter")), 6))
        .filter(col("jaccard") >= 0.01)
  }

  private def moreQueries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // Brute-force cosine top-5 per probe vector (probes = vec_id < 3).
    // Probe side broadcasts; similarity is the native codegen'd
    // cosine_sim expression (graft.functions.CosineSimilarity — one
    // fused loop, no HOF intermediates, same left-to-right double
    // accumulation as DuckDB's list arithmetic); ranking is on the
    // ROUNDED similarity with vec_id tiebreak so cross-engine order is
    // identical.
    "q41_cosine_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val probes = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      val sim = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos", round(expr("cosine_sim(embedding, p_emb)"), 6))
      val w = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
      sim.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("rn"), col("vec_id"), col("cos"))
        .orderBy(col("probe_id"), col("rn"))
    }),

    // ------------------------------------------------------------------
    // Nearest-centroid classification: per-label mean vector (exploded →
    // one shuffle, partial-agg), coords ROUNDED before distances so the
    // distributed avg's partition-order noise can't leak into ranking;
    // argmin via window; output = confusion counts.
    "q42_centroid_knn" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cent = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("x").cast("double")), 6).as("c"))
        .groupBy(col("label"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, c))), s -> s.c)").as("cvec"))
        .select(col("label").as("clabel"), col("cvec"))
      val dist = e.crossJoin(broadcast(cent))
        .withColumn("d2", round(expr("sq_dist(embedding, cvec)"), 6))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("clabel"))
      dist.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("label"), col("clabel").as("pred"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("label"), col("pred"))
    }),

    // ------------------------------------------------------------------
    // String-similarity self-join with the distinct-value contraction:
    // levenshtein ≤ 3 over DISTINCT part names (64 at any SF), then the
    // pair weight = how many part rows each name stands for.
    "q43_simjoin_string" -> ((s, dir) => {
      val names = Tables.part(s, dir)
        .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      // Length-blocking key: levenshtein ≤ 3 implies |len(a)-len(b)| ≤ 3,
      // so the left side explodes into its 7 admissible partner lengths
      // and the pair search becomes a HASH join on length — on a corpus
      // with millions of distinct names this stays O(n·bucket), where the
      // old bare crossJoin reverted to O(n²). Lossless: no qualifying
      // pair can sit outside its length band.
      val a = names.select(col("p_name").as("name_a"), col("n_parts").as("cnt_a"))
        .withColumn("len_b",
          explode(expr("sequence(length(name_a) - 3, length(name_a) + 3)")))
      val b = names.select(col("p_name").as("name_b"), col("n_parts").as("cnt_b"),
        length(col("p_name")).as("len_b"))
      a.join(b, "len_b")
        .filter(col("name_a") < col("name_b"))
        .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
        .filter(col("lev") <= 3)
        .select(col("name_a"), col("name_b"), col("lev"), col("cnt_a"), col("cnt_b"))
        .orderBy(col("name_a"), col("name_b"))
    }),

    // ------------------------------------------------------------------
    // Bigram PMI (collocation mining): ln of observed-vs-independent
    // bigram probability, top-50 bigrams by frequency. Unigram and
    // bigram counting are corpus-wide partial-agg shuffles; the vocab
    // table is bounded by vocabulary size → broadcast to the bigram
    // side; the final rank window runs on post-agg rows bounded by
    // vocab², never the corpus.
    "q92_bigram_pmi" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .localCheckpoint() // unigram + bigram branches share the tokenize
      val uc = toks.select(explode(col("w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      // bigrams via the native sliding_gen generator (see q38's note)
      val bg = toks
        .select(expr("sliding_gen(w, 2)").as(Seq("pos", "win")))
        .select(expr("array_join(win, ' ')").as("b"),
          expr("element_at(win, 1)").as("t1"), expr("element_at(win, 2)").as("t2"))
        .groupBy(col("b"), col("t1"), col("t2")).agg(count(lit(1)).as("cb"))
      val n = uc.agg(sum(col("c")).as("n"))
      val m = bg.agg(sum(col("cb")).as("m"))
      bg.join(broadcast(uc.select(col("t").as("t1"), col("c").as("c1"))), "t1")
        .join(broadcast(uc.select(col("t").as("t2"), col("c").as("c2"))), "t2")
        .crossJoin(broadcast(n)).crossJoin(broadcast(m))
        .withColumn("pmi", round(log((col("cb") / col("m"))
          / ((col("c1") / col("n")) * (col("c2") / col("n")))), 6))
        // top-50 via orderBy+limit → TakeOrderedAndProject (distributed
        // per-partition heaps + driver merge); the rank window then runs
        // on 50 rows, never a single-task sort of the full bigram table
        .orderBy(col("cb").desc, col("b")).limit(50)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cb").desc, col("b"))))
        .select(col("rk"), col("b"), col("cb"), col("pmi"))
        .orderBy(col("rk"))
    }),

    // ------------------------------------------------------------------
    // Bigram-LM PERPLEXITY scoring — the heuristic quality filter real
    // pretraining pipelines run (score every doc under a corpus-trained
    // n-gram LM, drop the tails): add-1-smoothed bigram model
    // P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) trained on the whole corpus in
    // two partial-agg shuffles, then every doc's bigrams scored by a
    // count-table equi-join (AQE broadcasts if vocab is small; at
    // 100 TB it's a hash join keyed by bigram) and folded to
    // ppl = exp(−Σ ln P / n). Each ln term is DECIMAL(28,12)-quantized
    // pre-sum; counts and V are exact integers.
    "q146_perplexity" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .localCheckpoint() // unigram, bigram, and scoring branches share it
      val uc = toks.select(explode(col("w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // V + the count join both consume it
      val v = uc.agg(count(lit(1)).as("v"))
      // doc-keyed bigrams via the native sliding_gen generator (q38's
      // note); counted once, consumed by both the model and the scorer
      val docBg = toks
        .select(col("doc_id"), expr("sliding_gen(w, 2)").as(Seq("pos", "win")))
        .select(col("doc_id"),
          expr("element_at(win, 1)").as("t1"), expr("element_at(win, 2)").as("t2"))
        .localCheckpoint()
      val bc = docBg.groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("cb"))
      docBg
        .join(bc, Seq("t1", "t2"))
        .join(uc.select(col("t").as("t1"), col("c").as("c1")), "t1")
        .crossJoin(broadcast(v))
        .withColumn("nll", expr(
          "cast(-ln((cast(cb as double) + 1.0) / (cast(c1 as double) + v)) as decimal(28,12))"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nllx"))
        .select(col("doc_id"), col("n_bigrams"),
          round(expr("cast(nllx as double) / n_bigrams"), 6).as("avg_nll"),
          round(expr("exp(cast(nllx as double) / n_bigrams)"), 6).as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Per-doc token (Shannon) entropy — the vocabulary-diversity
    // quality signal (low entropy = repetitive/boilerplate text).
    // H = ln(n) − Σ c·ln(c) / n; each c·ln(c) term is quantized to
    // DECIMAL(18,12) BEFORE the distributed sum so partial-agg merge
    // order cannot move the result by a ULP. Two doc-keyed shuffles.
    "q98_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x <> '')")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
          sum(expr("cast(c * ln(cast(c as double)) as decimal(18,12))")).as("slc"))
        .select(col("doc_id"), col("n"), col("n_distinct"),
          round(expr("ln(cast(n as double)) - cast(slc as double) / n"), 6).as("entropy"))
        .orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // Tokenizer vocabulary coverage: build the top-K vocab from the
    // corpus itself (orderBy+limit → TakeOrderedAndProject, ties broken
    // by token so the K-boundary is deterministic), broadcast it,
    // and profile per-doc coverage into 10 histogram buckets with the
    // corpus OOV rate per bucket. This is the standard pre-training
    // check "how much of my corpus does a K-entry vocab cover" — two
    // token shuffles plus a broadcast join, no data-sized window.
    // K=10 here because the driver corpus has only 31 token types
    // (measured); a real run would use 32k-256k.
    "q165_vocab_coverage" -> ((s, dir) => {
      val t = tokens(s, dir).select(col("doc_id"), col("tok"))
      val vocab = t.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(10)
        .select(col("tok"), lit(1).as("in_v"))
      t.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(coalesce(col("in_v"), lit(0))).as("n_inv"))
        .withColumn("bucket",
          expr("least(cast(floor(cast(n_inv as double) / n_tok * 10) as int), 9)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
          sum(col("n_tok") - col("n_inv")).as("oov_tokens"))
        .withColumn("oov_rate",
          round(expr("cast(oov_tokens as double) / tokens"), 6))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // Heaps'-law vocabulary growth (tokenizer sizing): 20 nested corpus
    // prefixes defined by the q58 md5 bucket of doc_id (prefix b = all
    // docs in buckets 0..b — deterministic, order-free, and each prefix
    // is a superset of the last). tokens(prefix) is a cumsum of 20
    // per-bucket totals; vocab(prefix) counts tokens whose FIRST bucket
    // (min over one groupBy) is <= b. The ln–ln regression slope (Heaps
    // β) and intercept (K) come from quantized decimal sums, so the
    // whole query touches the corpus with two partial-agg shuffles and
    // one 20-row window (bounded by construction).
    "q166_heaps_law" -> ((s, dir) => {
      val t = tokens(s, dir)
        .withColumn("b", expr(
          "md5_mod(cast(doc_id as string), 20L)"))
      val tokTot = t.groupBy(col("b")).agg(count(lit(1)).as("tk"))
      val newTypes = t.groupBy(col("tok")).agg(min(col("b")).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("tv"))
      val w = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokTot.join(newTypes, Seq("b"), "full")
        .select(col("b"), coalesce(col("tk"), lit(0L)).as("tk"),
          coalesce(col("tv"), lit(0L)).as("tv"))
        .withColumn("cum_t", sum(col("tk")).over(w))
        .withColumn("cum_v", sum(col("tv")).over(w))
        .filter(col("cum_t") > 0 && col("cum_v") > 0)
        .withColumn("x", expr("cast(ln(cast(cum_t as double)) as decimal(28,12))"))
        .withColumn("y", expr("cast(ln(cast(cum_v as double)) as decimal(28,12))"))
        .agg(count(lit(1)).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("cast(cast(x as double) * cast(y as double) as decimal(28,12))")).as("sxy"),
          sum(expr("cast(cast(x as double) * cast(x as double) as decimal(28,12))")).as("sxx"),
          sum(col("tk")).as("tokens_total"), sum(col("tv")).as("vocab_total"))
        .withColumn("slope", expr(
          "(k * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
            "(k * cast(sxx as double) - cast(sx as double) * cast(sx as double))"))
        .select(col("k").as("n_points"), col("tokens_total"), col("vocab_total"),
          round(col("slope"), 6).as("heaps_beta"),
          round(expr("exp((cast(sy as double) - slope * cast(sx as double)) / k)"), 6).as("heaps_k"))
    }),

    // ------------------------------------------------------------------
    // Windowed co-occurrence PMI (the word2vec-style statistic): token
    // pairs within distance ≤4 are generated IN-ROW by a nested HOF
    // over each doc's token array (zero joins, one explode — the pair
    // stream never materializes per doc), normalized to unordered
    // (least/greatest, binary collation on both engines), counted by
    // one partial-agg shuffle. PMI = ln(p(a,b)/(p(a)p(b))) from pair
    // and unigram totals; support floor c_ab ≥ 5; top-30 by count with
    // a lexicographic tiebreak (TakeOrdered). Vocab-sized frames
    // broadcast here; at corpus scale stats flip those joins to
    // token-keyed shuffles — both sides already hash on the token.
    "q181_cooccur_pmi" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 2)
      val allPairs = docs.select(explode(expr(
          "flatten(transform(sequence(1, size(w) - 1), i -> " +
            "transform(sequence(i + 1, least(i + 4, size(w))), j -> " +
            "struct(least(w[i-1], w[j-1]) as ta, greatest(w[i-1], w[j-1]) as tb))))")).as("p"))
        .select(col("p.ta").as("ta"), col("p.tb").as("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("c_ab"))
        // consumed twice (grand total + survivors); vocab-bounded,
        // so ReuseExchange serves both consumers from the ONE pair-agg
        // shuffle inside a single job (no block-manager round-trip)
      val ptot = allPairs.agg(sum(col("c_ab")).as("np"))
      val uni = docs.select(explode(col("w")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        // consumed thrice (total + both pair sides) — same reuse
      val ttot = uni.agg(sum(col("cu")).as("nt"))
      allPairs.filter(col("c_ab") >= 5)
        .join(broadcast(uni.select(col("tok").as("ta"), col("cu").as("ca"))), "ta")
        .join(broadcast(uni.select(col("tok").as("tb"), col("cu").as("cb"))), "tb")
        .crossJoin(broadcast(ptot)).crossJoin(broadcast(ttot))
        .orderBy(col("c_ab").desc, col("ta"), col("tb"))
        .limit(30)
        .select(col("ta"), col("tb"), col("c_ab"), col("ca"), col("cb"),
          round(expr("ln((cast(c_ab as double) / np) / " +
            "((cast(ca as double) / nt) * (cast(cb as double) / nt)))"), 6).as("pmi"))
    }),

    // ------------------------------------------------------------------
    // Containment-based near-dup detection (quote/subset documents):
    // C(A→B) = |sh(A)∩sh(B)| / |sh(A)| flags a short doc embedded in a
    // long one even when symmetric Jaccard stays low — the signal
    // Jaccard-only dedup misses. Rides q40's blocked candidate pairs
    // (same shingle-blocking contraction; the baked-in jaccard ≥ 0.01
    // floor can only drop pairs where one side is >49× the other, which
    // the 5-shingle blocks never produce on this corpus).
    "q175_containment" -> ((s, dir) =>
      nearDupPairs(s, dir)
        .withColumn("cont_a_in_b", round(expr("cast(inter as double) / na"), 6))
        .withColumn("cont_b_in_a", round(expr("cast(inter as double) / nb"), 6))
        .filter(col("cont_a_in_b") >= 0.5 || col("cont_b_in_a") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"),
          col("cont_a_in_b"), col("cont_b_in_a"))
        .orderBy(col("doc_a"), col("doc_b"))),

    // ------------------------------------------------------------------
    // Degree assortativity of the near-dup graph (q112/q120's edge set):
    // Pearson r over the (deg u, deg v) endpoint pairs of every
    // directed edge — positive r means duplicates cluster hub-to-hub.
    // Degrees come from one edge groupBy; the correlation is the exact
    // closed form over DECIMAL(38,0) integer sums (degree products are
    // exact, so the statistic is merge-order-proof by construction);
    // regular components (zero degree variance) yield NULL via nullif,
    // not an engine-dependent NaN.
    "q174_assortativity" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val edges = pairs.union(
          pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .toDF("u", "v").localCheckpoint()
      val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .localCheckpoint() // consumed thrice: node count + both endpoints
      val nn = deg.agg(count(lit(1)).as("n_nodes"))
      edges
        .join(deg.select(col("u"), col("deg").as("du")), "u")
        .join(deg.select(col("u").as("v"), col("deg").as("dv")), "v")
        .agg(count(lit(1)).as("m"),
          sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
          sum(expr("cast(du * dv as decimal(38,0))")).as("sxy"),
          sum(expr("cast(du * du as decimal(38,0))")).as("sxx"),
          sum(expr("cast(dv * dv as decimal(38,0))")).as("syy"))
        .crossJoin(broadcast(nn))
        .select(col("n_nodes"), col("m").as("n_edges_directed"),
          round(expr(
            "(m * cast(sxy as double) - cast(sx as double) * sy) / " +
              "nullif(sqrt((m * cast(sxx as double) - cast(sx as double) * sx) * " +
              "(m * cast(syy as double) - cast(sy as double) * sy)), 0.0)"), 6)
            .as("assortativity"))
    }),

    // ------------------------------------------------------------------
    // Tokenizer fertility by language: bytes-per-token and chars-per-
    // token over the whitespace tokenization — the first number a
    // multilingual tokenizer sizing exercise needs (languages with high
    // byte fertility dominate the token budget). One partial-agg
    // shuffle keyed by lang; per-row arithmetic only. Completes the
    // tokenizer-sizing family (q53 counts, q165 coverage, q166 Heaps,
    // q178 packing).
    "q222_token_fertility" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").as("nt"),
          octet_length(col("text")).cast("long").as("nb"),
          length(col("text")).cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("toks"),
          sum(col("nb")).as("nb"), sum(col("nc")).as("nc"))
        .filter(col("toks") > 0)
        .select(col("lang"), col("n_docs"), col("toks"),
          round(col("nb").cast("double") / col("toks"), 6).as("bytes_per_tok"),
          round(col("nc").cast("double") / col("toks"), 6).as("chars_per_tok"))
        .orderBy(col("lang"))),

    // ------------------------------------------------------------------
    // ROUGE-2 over the candidate pair graph: distinct-bigram precision/
    // recall/F1 for every q40 near-dup pair — the summarization-eval
    // readout (and the "are these dups actually rewrites?" triage a
    // dedup pipeline runs on its candidates). Bigram sets are built
    // ONLY for docs that appear in a pair (the graph is sparse, so the
    // contraction is tiny vs the corpus), md5-hashed to 64-bit keys
    // before the intersection shuffle (q151's trick), and the pair
    // graph itself is the memoized [[nearDupPairs]] checkpoint.
    "q223_rouge_pairs" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
      val docs = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val bg = Tables.documents(s, dir)
        .join(docs, "doc_id")
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> " +
            "md5_mod(concat_ws(' ', slice(w, i, 2)), 9223372036854775807L))")).as("h"))
        .distinct()
        .localCheckpoint() // consumed thrice: sizes + both pair sides
      val sizes = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("nbg"))
      val inter = pairs
        .join(bg.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
        .join(bg.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ncommon"))
      pairs
        .join(sizes.select(col("doc_id").as("doc_a"), col("nbg").as("na2")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("nbg").as("nb2")), "doc_b")
        .join(inter, Seq("doc_a", "doc_b"), "left")
        .withColumn("i2", coalesce(col("ncommon"), lit(0L)))
        .select(col("doc_a"), col("doc_b"), col("i2").as("n_common"),
          round(col("i2") / col("nb2"), 6).as("rouge2_p"),
          round(col("i2") / col("na2"), 6).as("rouge2_r"),
          round(lit(2.0) * col("i2") / (col("na2") + col("nb2")), 6).as("rouge2_f1"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ------------------------------------------------------------------
    // Vocabulary richness estimation: Chao1 (bias-corrected) projects
    // the UNSEEN vocabulary from the singleton/doubleton counts, and
    // Good–Turing's n1/N is the probability mass a tokenizer will spend
    // on never-before-seen types — the "how much bigger is the true
    // vocab than this sample shows" readout that complements q166's
    // Heaps-law growth fit. One token-count contraction, then a 1-row
    // aggregate of exact integers; doubles only in the final closed
    // forms.
    "q226_chao1" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .select(col("vocab"), col("n_tokens"), col("n1"), col("n2"),
          round(expr("vocab + cast(n1 as double) * (n1 - 1) / (2.0d * (n2 + 1))"), 6).as("chao1"),
          round(expr("cast(n1 as double) / n_tokens"), 6).as("gt_unseen_mass"),
          round(expr("1.0d - cast(n1 as double) / n_tokens"), 6).as("gt_coverage"))),

    // ------------------------------------------------------------------
    // k-core peeling (k=2, 4 bounded iterations) over the q40 pair
    // graph: iteratively strip degree-<2 nodes and report the shrinking
    // (n_nodes, n_edges) profile — "how much of the dup graph is
    // tree-like fringe vs densely-duplicated core", the triage a dedup
    // policy runs before choosing cluster survivors. Same bounded-
    // iteration + localCheckpoint-per-step shape as q80's CC; every
    // join is keyed on doc ids of the tiny memoized pair frame, and the
    // output is 5 fixed rows built by unioned 1-row aggregates — no
    // driver-side count actions.
    "q228_kcore" -> ((s, dir) => {
      def stats(i: Int, e: DataFrame): DataFrame = {
        val nodes = e.select(col("doc_a").as("u"))
          .union(e.select(col("doc_b").as("u")))
          .agg(countDistinct(col("u")).as("n_nodes"))
        e.agg(count(lit(1)).as("n_edges")).crossJoin(broadcast(nodes))
          .select(lit(i).as("iter"), col("n_nodes"), col("n_edges"))
      }
      var edges = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      var out = stats(0, edges)
      for (i <- 1 to 4) {
        val deg = edges.select(col("doc_a").as("u"))
          .union(edges.select(col("doc_b").as("u")))
          .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= 2).select(col("u"))
        edges = edges
          .join(keep.withColumnRenamed("u", "doc_a"), "doc_a")
          .join(keep.withColumnRenamed("u", "doc_b"), "doc_b")
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint()
        out = out.union(stats(i, edges))
      }
      out.orderBy(col("iter"))
    }),

    // ------------------------------------------------------------------
    // Bounded-hop BFS reach: hop distance of every near-dup-graph node
    // from the GREEDY-SURVIVOR seed set (docs with no smaller neighbor
    // — doc_a-side-only nodes of the canonical a<b pair frame, i.e.
    // exactly what keep-first pairwise dedup retains), reported as the
    // distance distribution with per-level min/max doc. "How many hops
    // of transitive duplication separate a doc from a kept survivor" is
    // the chain-depth readout CC labels erase; dist is capped at 4 BY
    // DEFINITION (−1 = farther), so the fixed frontier count is the
    // semantics, not an approximation (contrast [[ccMinLabels]]'s
    // certified fixpoint). 4 frontier expansions = 4 keyed joins over
    // the tiny memoized pair frame, anti-join dedup per level,
    // localCheckpoint per step — the Pregel BFS shape in DataFrames.
    "q279_graph_reach" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint() // seeds + both edge directions consume it
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .localCheckpoint()
      val nodes = edges.select(col("u").as("doc")).distinct()
      val seeds = pairs.select(col("doc_a")).distinct()
        .join(pairs.select(col("doc_b").as("doc_a")).distinct(), Seq("doc_a"), "left_anti")
        .select(col("doc_a").as("doc"))
      var dist = seeds.withColumn("d", lit(0)).localCheckpoint()
      for (i <- 1 to 4) {
        val next = dist.filter(col("d") === i - 1)
          .join(edges, col("doc") === col("u"))
          .select(col("v").as("doc")).distinct()
          .join(dist.select(col("doc")), Seq("doc"), "left_anti")
          .withColumn("d", lit(i))
        dist = dist.union(next).localCheckpoint()
      }
      nodes.join(dist, Seq("doc"), "left")
        .withColumn("dist", coalesce(col("d"), lit(-1)))
        .groupBy(col("dist"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc")).as("min_doc"), max(col("doc")).as("max_doc"))
        .orderBy(col("dist"))
    }),

    // ------------------------------------------------------------------
    // Duplicate-cluster size distribution: the q80 connected components
    // rolled up one level further — how many clusters of each size the
    // near-dup graph contains (the shape a dedup report leads with:
    // mostly pairs, or a few mega-clusters?). Two bounded groupBys over
    // the shared [[ccLabels]] frame.
    "q229_cluster_sizes" -> ((s, dir) =>
      ccLabels(s, dir)
        .groupBy(col("lbl")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .select(col("sz").as("cluster_size"), col("n_clusters"))
        .orderBy(col("cluster_size"))),

    // ------------------------------------------------------------------
    // PPMI spectral axis: the leading eigenvector of the positive-PMI
    // token co-occurrence matrix (q181's windowed pair counts, PPMI =
    // max(pmi, 0) rounded 6dp so both engines iterate from identical
    // cells) by the same matrix-free power iteration as q235 — the
    // classic count-based word-embedding axis (LSA/GloVe's input), and
    // a showcase of composing the co-occurrence machinery with the
    // spectral machinery. The matrix stays SPARSE (support-floored
    // cells, vocab-bounded); each matvec is one join + one vocab-cell
    // contraction with DECIMAL-quantized terms. Sign-free outputs: the
    // top-5 |loading| tokens and λ₁.
    "q238_ppmi_spectral" -> ((s, dir) => {
      // ONE corpus pass and ONE exchange produce both contractions the
      // PPMI cells need (guide §1.2/§2.4): the windowed pair stream and
      // the unigram stream explode together — unigrams ride as
      // (tok, NULL) rows — and contract in a single (ta, tb) groupBy.
      // This replaces the old three-job prelude (materialize tokenized
      // docs, pair groupBy, unigram groupBy: two full corpus passes plus
      // a token-array checkpoint) with one pass over the parquet scan.
      // Counts are count(1) per key either way — bit-identical.
      val counts = Tables.documents(s, dir)
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "concat(" +
            "flatten(transform(sequence(1, size(w) - 1), i -> " +
            "transform(sequence(i + 1, least(i + 4, size(w))), j -> " +
            "struct(least(w[i-1], w[j-1]) as ta, greatest(w[i-1], w[j-1]) as tb)))), " +
            "transform(w, t -> struct(t as ta, cast(null as string) as tb)))")).as("p"))
        .select(col("p.ta").as("ta"), col("p.tb").as("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // consumed 5x: pair total/survivors, uni total/sides
      val allPairs = counts.filter(col("tb").isNotNull)
        .select(col("ta"), col("tb"), col("c").as("c_ab"))
      val uni = counts.filter(col("tb").isNull)
        .select(col("ta").as("tok"), col("c").as("cu"))
      val ptot = allPairs.agg(sum(col("c_ab")).as("np"))
      val ttot = uni.agg(sum(col("cu")).as("nt"))
      val half = allPairs.filter(col("c_ab") >= 5)
        .join(broadcast(uni.select(col("tok").as("ta"), col("cu").as("ca"))), "ta")
        .join(broadcast(uni.select(col("tok").as("tb"), col("cu").as("cb"))), "tb")
        .crossJoin(broadcast(ptot)).crossJoin(broadcast(ttot))
        .withColumn("ppmi", expr(
          "round(greatest(ln((cast(c_ab as double) / np) / " +
            "((cast(ca as double) / nt) * (cast(cb as double) / nt))), 0.0d), 6)"))
        .filter(col("ppmi") > 0.0)
        .select(col("ta"), col("tb"), col("ppmi"))
      val cells = half.union(
          half.filter(col("ta") =!= col("tb"))
            .select(col("tb").as("ta"), col("ta").as("tb"), col("ppmi")))
        .toDF("ti", "tj", "p")
        .localCheckpoint() // consumed per iteration + stats
      val nodes = cells.select(col("ti")).distinct()
        .localCheckpoint() // consumed twice: init + count
      // The iterate is vocab-sized (nodes of the support-floored PPMI
      // graph), orders of magnitude smaller than the cells frame:
      // broadcast it so each matvec is a BroadcastHashJoin over the
      // checkpointed cells — no exchange or sort of cells per iteration
      // (guide §3.1, the q381/q396 rule). The decimal(28,12)-quantized
      // sums are exact and order-free, so the join-strategy change
      // cannot move the result. The three power iterations chain lazily
      // (each level rides a broadcast of the previous vocab-sized
      // aggregate); only the final iterate is checkpointed, because it
      // alone has two consumers — one job instead of three.
      def matvec(v: DataFrame): DataFrame =
        cells.join(broadcast(v.withColumnRenamed("tok", "tj")), "tj")
          .groupBy(col("ti"))
          .agg(sum(expr("cast(p * v as decimal(28,12))")).cast("double").as("wv"))
          .select(col("ti").as("tok"), col("wv"))
      var v = nodes.select(col("ti").as("tok"), lit(1.0).as("v"))
      for (_ <- 1 to 3) {
        val w = matvec(v)
        val nr = w.agg(
          expr("sqrt(cast(sum(cast(wv * wv as decimal(28,12))) as double))").as("nrm"))
        v = w.crossJoin(broadcast(nr))
          .select(col("tok"), expr("wv / nrm").as("v"))
      }
      v = v.localCheckpoint() // consumed twice: λ matvec + top-5 readout
      val lam = matvec(v)
        .agg(expr("sqrt(cast(sum(cast(wv * wv as decimal(28,12))) as double))").as("lambda1"))
      val nc = cells.agg(count(lit(1)).as("n_cells"))
      val nn = nodes.agg(count(lit(1)).as("n_tokens"))
      v.select(col("tok"), round(abs(col("v")), 6).as("loading"))
        .orderBy(col("loading").desc, col("tok")).limit(5)
        .crossJoin(broadcast(lam)).crossJoin(broadcast(nn)).crossJoin(broadcast(nc))
        .select(col("tok"), col("loading"), round(col("lambda1"), 6).as("lambda1"),
          col("n_tokens"), col("n_cells"))
        .orderBy(col("loading").desc, col("tok"))
    }),

    // ------------------------------------------------------------------
    // Dedup savings report — the number a dedup pipeline is judged by:
    // collapse each q80 cluster to its min-doc survivor (the house
    // keep-first convention) and report the docs/chars the corpus
    // sheds, absolutely and as a fraction. Survivor chars via
    // min(struct(doc, n_chars)) — no join-back, no window; one bounded
    // rollup over the shared [[ccLabels]] frame + a 1-row corpus total.
    "q239_dedup_savings" -> ((s, dir) => {
      val sz = Tables.documents(s, dir)
        .select(col("doc_id").as("doc"), col("n_chars"))
      val per = ccLabels(s, dir).join(sz, "doc")
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
          min(struct(col("doc"), col("n_chars"))).as("surv"))
        .select(col("n_docs"), col("chars"), col("surv.n_chars").as("surv_chars"))
      val tot = Tables.documents(s, dir)
        .agg(count(lit(1)).as("corpus_docs"), sum(col("n_chars")).as("corpus_chars"))
      per.agg(count(lit(1)).as("n_clusters"),
          sum(col("n_docs")).as("docs_in_clusters"),
          sum(col("n_docs") - 1).as("docs_removed"),
          sum(col("chars") - col("surv_chars")).as("chars_removed"))
        .crossJoin(broadcast(tot))
        .select(col("corpus_docs"), col("corpus_chars"), col("n_clusters"),
          col("docs_in_clusters"), col("docs_removed"), col("chars_removed"),
          round(expr("docs_removed / cast(corpus_docs as double)"), 6).as("docs_removed_frac"),
          round(expr("chars_removed / cast(corpus_chars as double)"), 6).as("chars_removed_frac"))
    }),

    // ------------------------------------------------------------------
    // Dunning log-likelihood (G-test) KEYNESS: which tokens are
    // over/under-represented in sources 0–9 vs 10–19 — the
    // corpus-comparison statistic (keyword extraction, domain-shift
    // audits) that PMI/TF-IDF don't give. One token-count shuffle to
    // vocab×2 cells, pivoted to (a, b) per token against broadcast
    // corpus totals; G² = 2·Σ O·ln(O/E) with 0-count terms dropping out
    // exactly (lim x·ln x = 0). ln is the proven parity transcendental;
    // ordering is on the 6dp-ROUNDED G² with token tiebreak so the
    // top-20 boundary is the same in both engines; top-k is
    // TakeOrderedAndProject, never a vocab-sized sort.
    "q244_gtest_keyness" -> ((s, dir) => {
      val cells = Tables.documents(s, dir)
        .select(expr("cast(substr(source, 4) as int) < 10").as("in_a"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("b"))
        .localCheckpoint() // totals + per-token terms both consume it
      val tot = cells.agg(sum(col("a")).as("na"), sum(col("b")).as("nb"))
      cells.crossJoin(broadcast(tot))
        .withColumn("ea", expr("cast(na as double) * (a + b) / (na + nb)"))
        .withColumn("eb", expr("cast(nb as double) * (a + b) / (na + nb)"))
        .withColumn("g2", expr(
          "round(2.0 * (CASE WHEN a > 0 THEN a * ln(a / ea) ELSE 0.0 END "
            + "+ CASE WHEN b > 0 THEN b * ln(b / eb) ELSE 0.0 END), 6)"))
        .withColumn("direction", expr(
          "CASE WHEN cast(a as double) / na > cast(b as double) / nb THEN 'A' ELSE 'B' END"))
        .orderBy(col("g2").desc, col("tok"))
        .limit(20)
        .select(col("tok"), col("a"), col("b"), col("g2"), col("direction"))
    }),

    // ------------------------------------------------------------------
    // Simple Good–Turing smoothed counts over word-TRIGRAM types (the
    // unigram vocabulary here is ~31 types with counts in the
    // thousands — no N_r exists below r=10; the trigram type space is
    // the sparse low-count regime GT smoothing is FOR, exactly the
    // object an n-gram LM smooths). ONE corpus shuffle to (trigram,
    // count) cells (trigrams generated in-row, hashed to nothing —
    // the count key is the gram itself); frequency-of-frequencies N_r
    // is a second tiny groupBy over the ≤|distinct counts| frame; r* =
    // (r+1)·N_{r+1}/N_r for r ≤ 10 via a broadcast self-join on r+1
    // (never a window), and the unseen mass P₀ = N₁/N rides along from
    // the broadcast corpus total. N_{r+1} = 0 → r* NULL (deterministic
    // in both engines, no smoothing-fit heuristics).
    "q256_good_turing" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val fof = counts.groupBy(col("c").as("r"))
        .agg(count(lit(1)).as("n_r"))
        .localCheckpoint() // both join sides + the total
      val tot = fof.agg(sum(expr("r * n_r")).as("n_toks"), sum(col("n_r")).as("vocab"))
      fof.filter(col("r") <= 10)
        .join(broadcast(fof.select(col("r").as("r1"), col("n_r").as("n_next"))),
          col("r") + 1 === col("r1"), "left")
        .crossJoin(broadcast(tot))
        .selectExpr("r", "n_r", "coalesce(n_next, 0L) AS n_next",
          "round((r + 1) * cast(n_next as double) / n_r, 6) AS r_star",
          "round((r + 1) * cast(n_next as double) / n_r / n_toks, 9) AS p_gt",
          "n_toks", "vocab",
          "round(cast(CASE WHEN r = 1 THEN n_r END as double) / n_toks, 6) AS p_unseen")
        .orderBy(col("r"))
    }),

    // ------------------------------------------------------------------
    // Kneser–Ney continuation probability: P_cont(w) = |{v : (v,w) seen}|
    // / |distinct bigram types| — the "how many contexts does this word
    // complete" statistic that separates genuinely versatile tokens
    // from high-count-but-single-context ones (the KN insight raw
    // frequency misses). Bigrams are built IN-ROW from the filtered
    // token array (one Generate, no join), contracted to DISTINCT
    // (prev, tok) pairs by one shuffle; continuation counts are a
    // second groupBy over the pair-type frame; raw occurrence counts
    // join back broadcast (vocab-bounded). Top-20 on (p_cont, tok) is
    // TakeOrderedAndProject.
    "q257_kn_continuation" -> ((s, dir) => {
      // ONE corpus pass and ONE exchange produce both contractions
      // (q238's fused idiom): the bigram stream and the unigram stream
      // explode together — unigrams ride as (NULL, tok) rows — and
      // contract in a single (prev, tok) groupBy whose count is the
      // unigram raw_count on NULL-prev rows and plain presence
      // (= the old .distinct()) on bigram rows. The old shape
      // tokenized the corpus twice AND eagerly checkpointed the pair
      // frame; lazy, AQE stage reuse serves the type total and the
      // continuation rollup from the one shuffle. NOTE the unigram
      // stream must keep empty-token filtering semantics: the old raw
      // pass split on ' ' and dropped '' AFTER the explode, while the
      // bigram pass pre-filtered the array — filter(w) first matches
      // both exactly.
      val counts = Tables.documents(s, dir)
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .select(explode(expr(
          "concat(" +
            "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS p, element_at(w, i + 1) AS t)) " +
            "ELSE array() END, " +
            "transform(w, t -> struct(cast(null as string) AS p, t AS t)))")).as("bg"))
        .select(col("bg.p").as("prev"), col("bg.t").as("tok"))
        .groupBy(col("prev"), col("tok")).agg(count(lit(1)).as("c"))
      val pairs = counts.filter(col("prev").isNotNull).select(col("prev"), col("tok"))
      val tot = pairs.agg(count(lit(1)).as("n_types"))
      val raw = counts.filter(col("prev").isNull)
        .select(col("tok"), col("c").as("raw_count"))
      pairs.groupBy(col("tok")).agg(count(lit(1)).as("cont"))
        .join(broadcast(raw), Seq("tok"))
        .crossJoin(broadcast(tot))
        .selectExpr("tok", "cont", "raw_count",
          "round(cast(cont as double) / n_types, 6) AS p_cont")
        .orderBy(col("p_cont").desc, col("tok"))
        .limit(20)
    }),

    // ------------------------------------------------------------------
    // Jelinek–Mercer interpolated bigram LM scored on a HELD-OUT split
    // — the train/test discipline q146's in-sample perplexity lacks
    // (scoring docs under a model trained on themselves understates
    // surprise; the held-out read is what a curation pipeline actually
    // deploys): train on the md5 90% (q58's splitter), score the 10%
    // with p = λ·c(w₁w₂)/c(w₁) + (1−λ)·(c(w₂)+1)/(N+V+1), λ=0.7 —
    // the mixture keeps unseen bigrams AND unseen unigrams strictly
    // positive (the +1/V+1 floor), so OOV never yields ln(0). Two
    // train contractions (unigram, bigram) + one held-out bigram
    // frame; scoring is two LEFT joins keyed by bigram/unigram (AQE
    // broadcasts the vocab side; at 100 TB they are hash joins on
    // 8-byte-hashable keys); per-bigram nll quantizes DECIMAL(28,12)
    // before the per-doc sum.
    "q333_jm_bigram_lm" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("md5_mod(cast(doc_id as string), 10L)").as("split"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .localCheckpoint() // train counts + held-out bigrams share it
      val train = toks.filter(col("split") =!= 0)
      val uc = train.select(explode(col("w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // N+V totals + the two scoring joins
      val nv = uc.agg(sum(col("c")).as("bign"), count(lit(1)).as("bigv"))
      val bc = train.filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) AS t1, element_at(w, i + 1) AS t2))")).as("bg"))
        .groupBy(col("bg.t1").as("t1"), col("bg.t2").as("t2"))
        .agg(count(lit(1)).as("cb"))
      toks.filter(col("split") === 0 && size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> struct(element_at(w, i) AS t1, element_at(w, i + 1) AS t2))")).as("bg"))
        .select(col("doc_id"), col("bg.t1").as("t1"), col("bg.t2").as("t2"))
        .join(bc, Seq("t1", "t2"), "left")
        .join(uc.select(col("t").as("t1"), col("c").as("cprev")), Seq("t1"), "left")
        .join(uc.select(col("t").as("t2"), col("c").as("cw")), Seq("t2"), "left")
        .crossJoin(broadcast(nv))
        .withColumn("p", expr(
          "0.7d * (CASE WHEN cprev IS NULL OR cb IS NULL THEN 0.0d ELSE cast(cb as double) / cprev END) " +
            "+ 0.3d * (cast(coalesce(cw, 0L) as double) + 1.0d) / (cast(bign as double) + bigv + 1.0d)"))
        .withColumn("nll", expr("cast(-ln(p) as decimal(28,12))"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nllx"))
        .select(col("doc_id"), col("n_bigrams"),
          round(expr("cast(nllx as double) / n_bigrams"), 6).as("avg_nll"),
          round(expr("exp(cast(nllx as double) / n_bigrams)"), 6).as("ppl"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Line-level boilerplate dedup (the CCNet/RefinedWeb curation step
    // q151's 8-gram doc-frequency only measures): each doc is cut into
    // consecutive stride-8 token segments IN-ROW (one HOF, no join —
    // segments partition the token list, so token mass is conserved by
    // construction), a segment duplicated across ≥2 docs corpus-wide is
    // boilerplate, and the readout is the per-source removal bill:
    // flagged segments/instances, removed token mass, pct of the
    // source's tokens. Segments md5-hash to 60-bit keys BEFORE the
    // shuffle (q151's discipline — exchanges carry 8-byte keys, never
    // segment text); the global doc-frequency comes from a window over
    // the (segkey, source) CONTRACTION partitioned by segkey (≤#sources
    // rows per partition), not from a second shuffle over instances.
    "q280_line_dedup" -> ((s, dir) => {
      val cells = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(0, cast(ceil(size(t) / 8.0d) as int) - 1), k -> "
            + "struct(md5_mod(array_join(slice(t, k * 8 + 1, 8), ' '), 1152921504606846976L) AS segkey, "
            + "least(size(t) - k * 8, 8) AS seg_toks))")).as("sg"))
        .select(col("doc_id"), col("source"), col("sg.segkey"), col("sg.seg_toks"))
        .groupBy(col("segkey"), col("source"))
        .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("ni"),
          sum(col("seg_toks")).as("st"))
        // global df = Σ per-source distinct-doc counts (a doc lives in
        // exactly one source); segkey-partitioned window, ≤#sources rows
        .withColumn("df", sum(col("nd")).over(Window.partitionBy(col("segkey"))))
      val docs = Tables.documents(s, dir)
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      cells.groupBy(col("source"))
        .agg(sum(col("ni")).as("segs_total"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("boiler_segs"),
          sum(when(col("df") >= 2, col("ni")).otherwise(0L)).as("boiler_inst"),
          sum(col("st")).as("toks_total"),
          sum(when(col("df") >= 2, col("st")).otherwise(0L)).as("toks_removed"),
          max(col("df")).as("max_df"))
        .join(broadcast(docs), Seq("source"))
        .select(col("source"), col("n_docs"), col("segs_total"), col("boiler_segs"),
          col("boiler_inst"), col("toks_total"), col("toks_removed"),
          round(col("toks_removed").cast("double") / col("toks_total"), 6).as("pct_removed"),
          col("max_df"))
        .orderBy(col("source"))
    }),

    // ------------------------------------------------------------------
    // Fuzzy record linkage with the native jaro_winkler expression
    // (functions/JaroWinkler.scala — the record-linkage scorer Spark's
    // built-ins lack; bit-identical to DuckDB's jaro_winkler_similarity,
    // the oracle): every part row's name gets a deterministic typo
    // (chars 2 and 3 swapped), then links back to the DISTINCT clean-name
    // dictionary, blocked on (first char, |length diff| ≤ 2) — the
    // classic blocking contraction: candidates per row scale with the
    // dictionary slice, not the table. The dictionary is the broadcast
    // side; dirty rows stream (cost is linear in table size at any SF).
    // Winner = row_number over (jw desc, clean asc) per row — ties are
    // EXACT rationals in both engines (see the expression's scaladoc),
    // so the tie-break can never flip on float noise. Readout: per-brand
    // top-1 accuracy + winner-score stats (DECIMAL-summed mean).
    "q281_record_linkage" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
      val dict = parts.select(col("p_name").as("clean")).distinct()
      val cand = parts
        .select(col("p_partkey"), col("p_brand"), col("p_name").as("orig"))
        .withColumn("dirty", expr(
          "concat(substr(orig, 1, 1), substr(orig, 3, 1), substr(orig, 2, 1), substr(orig, 4))"))
        .join(broadcast(dict), expr(
          "substr(dirty, 1, 1) = substr(clean, 1, 1) AND abs(length(dirty) - length(clean)) <= 2"))
        .withColumn("jw", expr("jaro_winkler(dirty, clean)"))
      val w = Window.partitionBy(col("p_partkey")).orderBy(col("jw").desc, col("clean"))
      cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("clean") === col("orig"), 1L).otherwise(0L)).as("n_correct"),
          sum(expr("cast(round(jw, 6) as decimal(18,6))")).as("sumjw"),
          min(expr("round(jw, 6)")).as("min_jw"),
          max(expr("round(jw, 6)")).as("max_jw"))
        .selectExpr("p_brand", "n_rows", "n_correct",
          "round(cast(n_correct as double) / n_rows, 6) AS accuracy",
          "round(cast(sumjw as double) / n_rows, 6) AS mean_jw",
          "min_jw", "max_jw")
        .orderBy(col("p_brand"))
    }),

    // ------------------------------------------------------------------
    // Readability scoring (Flesch reading-ease + Flesch–Kincaid grade)
    // — the curation signal quality pipelines gate on alongside q52's
    // ratio score: words / sentences / vowel-group syllables counted
    // per document by pure regexp COLLAPSE-THEN-COUNT (each token run
    // collapses to one marker char outside the residual alphabet, then
    // everything else strips — exact integer counts, no tokenizer UDF,
    // fully codegen'd). One narrow projection over documents, one
    // group-by-lang shuffle of per-doc rows; per-doc scores quantized
    // to DECIMAL(28,6) pre-sum (§4.3). This corpus is unpunctuated
    // (synthetic token streams) so sentences degenerates to 1/doc —
    // the formula's plumbing is what the key certifies; the oracle
    // recomputes every count with the same regexes in RE2.
    "q388_readability" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .withColumn("t", regexp_replace(lower(col("text")), "[^a-z ]", " "))
        .withColumn("words", length(regexp_replace(
          regexp_replace(col("t"), "[a-z]+", "W"), "[^W]", "")).cast("long"))
        .withColumn("syllables", length(regexp_replace(
          regexp_replace(col("t"), "[aeiouy]+", "V"), "[^V]", "")).cast("long"))
        .withColumn("sentences", greatest(lit(1L), length(regexp_replace(
          regexp_replace(regexp_replace(col("text"), "[^.!?]+", "x"), "[.!?]+", "S"),
          "[^S]", "")).cast("long")))
        .filter(col("words") >= 1)
        .withColumn("ease", expr(
          "206.835d - 1.015d * (cast(words as double) / sentences) "
            + "- 84.6d * (cast(syllables as double) / words)"))
        .withColumn("grade", expr(
          "0.39d * (cast(words as double) / sentences) "
            + "+ 11.8d * (cast(syllables as double) / words) - 15.59d"))
      scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("words")).as("n_words"),
          sum(col("syllables")).as("n_syllables"),
          sum(expr("cast(ease as decimal(28,6))")).as("se"),
          sum(expr("cast(grade as decimal(28,6))")).as("sg"))
        .selectExpr("lang", "n_docs", "n_words", "n_syllables",
          "round(cast(se as double) / n_docs, 4) AS mean_ease",
          "round(cast(sg as double) / n_docs, 4) AS mean_grade")
        .orderBy(col("lang"))
    }),
  )

  def oracles: Map[String, String] = Map(
    // q388: identical collapse-then-count regexes (RE2 needs the 'g'
    // flag Spark applies implicitly); same pre-sum quantization.
    "q388_readability" ->
      ("WITH scored AS (SELECT lang, "
        + "length(regexp_replace(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), "
        + "'[a-z]+', 'W', 'g'), '[^W]', '', 'g')) AS words, "
        + "length(regexp_replace(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), "
        + "'[aeiouy]+', 'V', 'g'), '[^V]', '', 'g')) AS syllables, "
        + "greatest(1, length(regexp_replace(regexp_replace(regexp_replace(text, '[^.!?]+', 'x', 'g'), "
        + "'[.!?]+', 'S', 'g'), '[^S]', '', 'g'))) AS sentences "
        + "FROM documents), "
        + "f AS (SELECT lang, words, syllables, sentences, "
        + "206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) "
        + "- 84.6 * (CAST(syllables AS DOUBLE) / words) AS ease, "
        + "0.39 * (CAST(words AS DOUBLE) / sentences) "
        + "+ 11.8 * (CAST(syllables AS DOUBLE) / words) - 15.59 AS grade "
        + "FROM scored WHERE words >= 1) "
        + "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        + "CAST(sum(words) AS BIGINT) AS n_words, CAST(sum(syllables) AS BIGINT) AS n_syllables, "
        + "round(CAST(sum(CAST(ease AS DECIMAL(28,6))) AS DOUBLE) / count(*), 4) AS mean_ease, "
        + "round(CAST(sum(CAST(grade AS DECIMAL(28,6))) AS DOUBLE) / count(*), 4) AS mean_grade "
        + "FROM f GROUP BY lang ORDER BY lang"),
    // q280: segments grouped by TEXT here vs 60-bit md5 keys in Spark —
    // identical df counts unless the hash collides (~#segs²/2⁶¹).
    "q280_line_dedup" ->
      ("WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents), "
        + "segs AS (SELECT doc_id, source, array_to_string(t[k*8+1:k*8+8], ' ') AS seg, "
        + "len(t[k*8+1:k*8+8]) AS seg_toks FROM toks, "
        + "LATERAL (SELECT unnest(range(0, CAST(ceil(len(t)/8.0) AS BIGINT))) AS k)), "
        + "cells AS (SELECT seg, source, count(DISTINCT doc_id) AS nd, count(*) AS ni, sum(seg_toks) AS st "
        + "FROM segs GROUP BY 1, 2), "
        + "cells2 AS (SELECT *, sum(nd) OVER (PARTITION BY seg) AS df FROM cells), "
        + "per AS (SELECT source, CAST(sum(ni) AS BIGINT) AS segs_total, "
        + "CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS boiler_segs, "
        + "CAST(sum(CASE WHEN df >= 2 THEN ni ELSE 0 END) AS BIGINT) AS boiler_inst, "
        + "CAST(sum(st) AS BIGINT) AS toks_total, "
        + "CAST(sum(CASE WHEN df >= 2 THEN st ELSE 0 END) AS BIGINT) AS toks_removed, "
        + "CAST(max(df) AS BIGINT) AS max_df FROM cells2 GROUP BY source), "
        + "d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source) "
        + "SELECT d.source, n_docs, segs_total, boiler_segs, boiler_inst, toks_total, toks_removed, "
        + "round(CAST(toks_removed AS DOUBLE) / toks_total, 6) AS pct_removed, max_df "
        + "FROM per JOIN d ON per.source = d.source ORDER BY d.source"),
    "q281_record_linkage" ->
      ("WITH dict AS (SELECT DISTINCT p_name AS clean FROM part), "
        + "dirty AS (SELECT p_partkey, p_brand, p_name AS orig, "
        + "substr(p_name, 1, 1) || substr(p_name, 3, 1) || substr(p_name, 2, 1) || substr(p_name, 4) AS dirty FROM part), "
        + "cand AS (SELECT d.p_partkey, d.p_brand, d.orig, c.clean, "
        + "jaro_winkler_similarity(d.dirty, c.clean) AS jw FROM dirty d JOIN dict c "
        + "ON substr(d.dirty, 1, 1) = substr(c.clean, 1, 1) AND abs(length(d.dirty) - length(c.clean)) <= 2), "
        + "win AS (SELECT *, row_number() OVER (PARTITION BY p_partkey ORDER BY jw DESC, clean) AS rn FROM cand) "
        + "SELECT p_brand, CAST(count(*) AS BIGINT) AS n_rows, "
        + "CAST(sum(CASE WHEN clean = orig THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, "
        + "round(CAST(sum(CASE WHEN clean = orig THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy, "
        + "round(CAST(sum(CAST(round(jw, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_jw, "
        + "min(round(jw, 6)) AS min_jw, max(round(jw, 6)) AS max_jw "
        + "FROM win WHERE rn = 1 GROUP BY p_brand ORDER BY p_brand"),
    "q256_good_turing" ->
      ("WITH counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM ("
        + "SELECT unnest(list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))) AS tok FROM ("
        + "SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents) WHERE len(w) >= 3) GROUP BY tok), "
        + "fof AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r FROM counts GROUP BY c), "
        + "tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_toks, CAST(sum(n_r) AS BIGINT) AS vocab FROM fof) "
        + "SELECT f.r, f.n_r, coalesce(g.n_r, 0) AS n_next, "
        + "round((f.r + 1) * CAST(g.n_r AS DOUBLE) / f.n_r, 6) AS r_star, "
        + "round((f.r + 1) * CAST(g.n_r AS DOUBLE) / f.n_r / n_toks, 9) AS p_gt, "
        + "n_toks, vocab, "
        + "round(CAST(CASE WHEN f.r = 1 THEN f.n_r END AS DOUBLE) / n_toks, 6) AS p_unseen "
        + "FROM fof f LEFT JOIN fof g ON f.r + 1 = g.r CROSS JOIN tot "
        + "WHERE f.r <= 10 ORDER BY f.r"),
    "q257_kn_continuation" ->
      ("WITH pairs AS (SELECT DISTINCT w[i] AS prev, w[i + 1] AS tok FROM ("
        + "SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "LATERAL (SELECT unnest(range(1, len(w))) AS i) WHERE len(w) >= 2), "
        + "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM pairs), "
        + "raw AS (SELECT tok, CAST(count(*) AS BIGINT) AS raw_count FROM ("
        + "SELECT unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> '' GROUP BY tok), "
        + "cont AS (SELECT tok, CAST(count(*) AS BIGINT) AS cont FROM pairs GROUP BY tok) "
        + "SELECT tok, cont, raw_count, round(CAST(cont AS DOUBLE) / n_types, 6) AS p_cont "
        + "FROM cont JOIN raw USING (tok) CROSS JOIN tot "
        + "ORDER BY p_cont DESC, tok LIMIT 20"),
    "q244_gtest_keyness" ->
      ("WITH t AS (SELECT CAST(substr(source, 4) AS INT) < 10 AS in_a, unnest(string_split(text, ' ')) AS tok FROM documents), "
        + "cells AS (SELECT tok, CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS a, "
        + "CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS b FROM t WHERE tok <> '' GROUP BY tok), "
        + "tot AS (SELECT CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb FROM cells), "
        + "e AS (SELECT tok, a, b, na, nb, CAST(na AS DOUBLE) * (a + b) / (na + nb) AS ea, "
        + "CAST(nb AS DOUBLE) * (a + b) / (na + nb) AS eb FROM cells CROSS JOIN tot), "
        + "g AS (SELECT tok, a, b, round(2.0 * (CASE WHEN a > 0 THEN a * ln(a / ea) ELSE 0.0 END "
        + "+ CASE WHEN b > 0 THEN b * ln(b / eb) ELSE 0.0 END), 6) AS g2, "
        + "CASE WHEN CAST(a AS DOUBLE) / na > CAST(b AS DOUBLE) / nb THEN 'A' ELSE 'B' END AS direction FROM e) "
        + "SELECT tok, a, b, g2, direction FROM g ORDER BY g2 DESC, tok LIMIT 20"),
    "q222_token_fertility" ->
      ("WITH d AS (SELECT lang, len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt, "
        + "octet_length(CAST(text AS BLOB)) AS nb, length(text) AS nc FROM documents) "
        + "SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS toks, "
        + "round(CAST(sum(nb) AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 6) AS bytes_per_tok, "
        + "round(CAST(sum(nc) AS DOUBLE) / CAST(sum(nt) AS DOUBLE), 6) AS chars_per_tok "
        + "FROM d GROUP BY lang HAVING sum(nt) > 0 ORDER BY lang"),
    // q223: q40's candidate-pair CTEs verbatim, then distinct-bigram
    // P/R/F1 per pair over the md5-hashed bigram sets of paired docs.
    "q223_rouge_pairs" -> {
      val pairCtes =
        ("sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01)")
      (s"WITH $pairCtes, "
        + "bg AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> "
        + "CAST('0x' || substr(md5(array_to_string(w[i:i+1], ' ')), 1, 15) AS BIGINT))) AS h FROM "
        + "(SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents "
        + "WHERE doc_id IN (SELECT doc_a FROM pairs UNION SELECT doc_b FROM pairs)) WHERE len(w) >= 2)), "
        + "bsz AS (SELECT doc_id, count(*) AS nbg FROM bg GROUP BY doc_id), "
        + "i2 AS (SELECT p.doc_a, p.doc_b, count(*) AS ncommon FROM pairs p "
        + "JOIN bg a ON a.doc_id = p.doc_a JOIN bg b ON b.doc_id = p.doc_b AND b.h = a.h GROUP BY 1, 2) "
        + "SELECT p.doc_a, p.doc_b, CAST(COALESCE(i.ncommon, 0) AS BIGINT) AS n_common, "
        + "round(CAST(COALESCE(i.ncommon, 0) AS DOUBLE) / sb.nbg, 6) AS rouge2_p, "
        + "round(CAST(COALESCE(i.ncommon, 0) AS DOUBLE) / sa.nbg, 6) AS rouge2_r, "
        + "round(2.0 * COALESCE(i.ncommon, 0) / (sa.nbg + sb.nbg), 6) AS rouge2_f1 "
        + "FROM pairs p JOIN bsz sa ON sa.doc_id = p.doc_a JOIN bsz sb ON sb.doc_id = p.doc_b "
        + "LEFT JOIN i2 i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b "
        + "ORDER BY p.doc_a, p.doc_b")
    },
    "q155_bpe_pairs" ->
      ("WITH t AS (SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "vocab AS (SELECT tok, count(*) AS freq FROM t GROUP BY tok HAVING length(tok) >= 2), "
        + "pairs AS (SELECT tok, freq, unnest(list_transform(range(1, length(tok)), i -> substr(tok, i, 2))) AS pair FROM vocab) "
        + "SELECT pair, CAST(sum(freq) AS BIGINT) AS total, count(DISTINCT tok) AS n_types "
        + "FROM pairs GROUP BY pair ORDER BY total DESC, pair LIMIT 20"),
    "q98_entropy" ->
      ("WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t FROM documents), "
        + "tc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2), "
        + "agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct, "
        + "sum(CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(18,12))) AS slc FROM tc GROUP BY doc_id) "
        + "SELECT doc_id, n, n_distinct, round(ln(CAST(n AS DOUBLE)) - CAST(slc AS DOUBLE) / n, 6) AS entropy "
        + "FROM agg ORDER BY doc_id"),
    "q146_perplexity" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "uc AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t), "
        + "v AS (SELECT count(*) AS v FROM uc), "
        + "db AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i])) AS t1, "
        + "unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS t2 FROM toks WHERE len(w) >= 2), "
        + "bc AS (SELECT t1, t2, count(*) AS cb FROM db GROUP BY 1, 2), "
        + "scored AS (SELECT d.doc_id, CAST(-ln((CAST(bc.cb AS DOUBLE) + 1.0) / (CAST(uc.c AS DOUBLE) + (SELECT v FROM v))) AS DECIMAL(28,12)) AS nll "
        + "FROM db d JOIN bc ON d.t1 = bc.t1 AND d.t2 = bc.t2 JOIN uc ON uc.t = d.t1) "
        + "SELECT doc_id, count(*) AS n_bigrams, round(CAST(sum(nll) AS DOUBLE) / count(*), 6) AS avg_nll, "
        + "round(exp(CAST(sum(nll) AS DOUBLE) / count(*)), 6) AS ppl "
        + "FROM scored GROUP BY doc_id ORDER BY doc_id"),
    "q333_jm_bigram_lm" ->
      ("WITH toks AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 AS split, "
        + "list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "uni AS (SELECT unnest(w) AS t FROM toks WHERE split <> 0), "
        + "uc AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY t), "
        + "nv AS (SELECT CAST(sum(c) AS BIGINT) AS bign, CAST(count(*) AS BIGINT) AS bigv FROM uc), "
        + "bgt AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS t1, "
        + "unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS t2 FROM toks WHERE split <> 0 AND len(w) >= 2), "
        + "bc AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS cb FROM bgt GROUP BY 1, 2), "
        + "ho AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i])) AS t1, "
        + "unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS t2 FROM toks WHERE split = 0 AND len(w) >= 2), "
        + "sc AS (SELECT doc_id, 0.7 * (CASE WHEN u1.c IS NULL OR bc.cb IS NULL THEN 0.0 ELSE CAST(bc.cb AS DOUBLE) / u1.c END) "
        + "+ 0.3 * (CAST(coalesce(u2.c, 0) AS DOUBLE) + 1.0) / (CAST(bign AS DOUBLE) + bigv + 1.0) AS p "
        + "FROM ho LEFT JOIN bc ON ho.t1 = bc.t1 AND ho.t2 = bc.t2 "
        + "LEFT JOIN uc u1 ON ho.t1 = u1.t LEFT JOIN uc u2 ON ho.t2 = u2.t CROSS JOIN nv), "
        + "agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
        + "CAST(sum(CAST(-ln(p) AS DECIMAL(28,12))) AS DOUBLE) AS nllx FROM sc GROUP BY doc_id) "
        + "SELECT doc_id, n_bigrams, round(nllx / n_bigrams, 6) AS avg_nll, "
        + "round(exp(nllx / n_bigrams), 6) AS ppl FROM agg ORDER BY doc_id"),
    "q92_bigram_pmi" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "uni AS (SELECT unnest(w) AS t FROM toks), "
        + "uc AS (SELECT t, count(*) AS c FROM uni GROUP BY t), "
        + "nuni AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc), "
        + "bgx AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b, "
        + "unnest(list_transform(range(1, len(w)), i -> w[i])) AS t1, "
        + "unnest(list_transform(range(1, len(w)), i -> w[i+1])) AS t2 FROM toks WHERE len(w) >= 2), "
        + "bc AS (SELECT b, t1, t2, count(*) AS cb FROM bgx GROUP BY 1, 2, 3), "
        + "nbg AS (SELECT CAST(sum(cb) AS BIGINT) AS m FROM bc), "
        + "scored AS (SELECT b, cb, round(ln((CAST(cb AS DOUBLE) / m) / ((CAST(u1.c AS DOUBLE) / n) * (CAST(u2.c AS DOUBLE) / n))), 6) AS pmi "
        + "FROM bc JOIN uc u1 ON bc.t1 = u1.t JOIN uc u2 ON bc.t2 = u2.t CROSS JOIN nuni CROSS JOIN nbg) "
        + "SELECT rk, b, cb, pmi FROM (SELECT b, cb, pmi, row_number() OVER (ORDER BY cb DESC, b) AS rk FROM scored) "
        + "WHERE rk <= 50 ORDER BY rk"),
    "q36_wordcount" ->
      ("SELECT * FROM (SELECT lang, tok, cnt, row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rn FROM ("
        + "SELECT lang, tok, count(*) AS cnt FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> '' GROUP BY lang, tok)) "
        + "WHERE rn <= 10 ORDER BY lang, rn"),
    "q37_tfidf" ->
      ("WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> '' GROUP BY doc_id, tok), "
        + "df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), n AS (SELECT count(*) AS n FROM documents) "
        + "SELECT doc_id, rn, tok, tf, df, score FROM (SELECT tf.doc_id, tf.tok, tf.tf, df.df, round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS score, "
        + "row_number() OVER (PARTITION BY tf.doc_id ORDER BY round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) DESC, tf.tok) AS rn "
        + "FROM tf JOIN df USING (tok) CROSS JOIN n) WHERE rn <= 5 ORDER BY doc_id, rn"),
    "q38_ngrams" ->
      ("SELECT bigram, count(*) AS cnt FROM (SELECT unnest(list_transform(range(1, len(string_split(text, ' '))), i -> "
        + "string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bigram FROM documents) "
        + "WHERE NOT (bigram LIKE ' %' OR bigram LIKE '% ') GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50"),
    "q39_dedup_exact" ->
      ("SELECT doc_id, lang, source, copies FROM (SELECT doc_id, lang, source, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn, "
        + "count(*) OVER (PARTITION BY text) AS copies FROM documents) WHERE rn = 1 ORDER BY doc_id"),
    "q40_dedup_near" ->
      ("WITH sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
        + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
        + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
        + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
        + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2) "
        + "SELECT doc_a, doc_b, inter, sa.n_sh AS na, sb.n_sh AS nb, round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard "
        + "FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
        + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01 ORDER BY doc_a, doc_b"),
    "q80_dedup_clusters" -> {
      val pairCtes =
        ("sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01), "
          + "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), "
          + "l0 AS (SELECT DISTINCT u AS doc, u AS lbl FROM edges)")
      val iters = (0 until 5).map(i =>
        s"l${i + 1} AS (SELECT doc, min(lbl) AS lbl FROM (SELECT doc, lbl FROM l$i "
          + s"UNION ALL SELECT e.u AS doc, l.lbl FROM edges e JOIN l$i l ON l.doc = e.v) GROUP BY doc)").mkString(", ")
      (s"WITH $pairCtes, $iters "
        + "SELECT lbl AS cluster, count(*) AS n_docs, min(doc) AS min_doc, max(doc) AS max_doc "
        + "FROM l5 GROUP BY lbl ORDER BY cluster")
    },
    "q347_graph_modularity" -> {
      val pairCtes =
        ("sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01)")
      (s"WITH $pairCtes, "
        + "lab AS (SELECT p.doc_a, p.doc_b, da.source AS sa, db.source AS sb FROM pairs p "
        + "JOIN documents da ON da.doc_id = p.doc_a JOIN documents db ON db.doc_id = p.doc_b), "
        + "mm AS (SELECT count(*) AS m FROM lab), "
        + "ends AS (SELECT source, CAST(count(*) AS BIGINT) AS deg FROM "
        + "(SELECT sa AS source FROM lab UNION ALL SELECT sb FROM lab) GROUP BY source), "
        + "intra AS (SELECT sa AS source, CAST(count(*) AS BIGINT) AS e_in FROM lab WHERE sa = sb GROUP BY sa), "
        + "nodes AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_nodes FROM "
        + "(SELECT DISTINCT doc FROM (SELECT doc_a AS doc FROM pairs UNION ALL SELECT doc_b FROM pairs)) x "
        + "JOIN documents d ON d.doc_id = x.doc GROUP BY d.source), "
        + "parts AS (SELECT n.source, n.n_nodes, coalesce(i.e_in, 0) AS intra_edges, e.deg AS degree_sum, "
        + "CAST(coalesce(i.e_in, 0) AS DOUBLE) / mm.m - (CAST(e.deg AS DOUBLE) / (2.0 * mm.m)) * (CAST(e.deg AS DOUBLE) / (2.0 * mm.m)) AS contrib "
        + "FROM nodes n JOIN ends e ON e.source = n.source LEFT JOIN intra i ON i.source = n.source CROSS JOIN mm), "
        + "qt AS (SELECT CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE) AS qx FROM parts) "
        + "SELECT source, n_nodes, intra_edges, degree_sum, round(contrib, 6) AS contribution, "
        + "round(qx, 6) AS modularity FROM parts CROSS JOIN qt ORDER BY source")
    },
    "q112_pagerank" -> {
      val pairCtes =
        ("sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01), "
          + "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), "
          + "deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u), "
          + "nn AS (SELECT count(*) AS n FROM deg), "
          + "r0 AS (SELECT u AS doc, deg, n, CAST(1 AS DOUBLE) / n AS r FROM deg CROSS JOIN nn)")
      val iters = (0 until 3).map(i =>
        s"c$i AS (SELECT e.v, sum(CAST(r.r / r.deg AS DECIMAL(28,18))) AS in_sum "
          + s"FROM edges e JOIN r$i r ON r.doc = e.u GROUP BY e.v), "
          + s"r${i + 1} AS (SELECT r.doc, r.deg, r.n, "
          + s"round(CAST(0.15 AS DOUBLE) / r.n + CAST(0.85 AS DOUBLE) * CAST(c.in_sum AS DOUBLE), 12) AS r "
          + s"FROM r$i r JOIN c$i c ON c.v = r.doc)").mkString(", ")
      (s"WITH $pairCtes, $iters "
        + "SELECT doc, deg, round(r, 6) AS rank FROM r3 ORDER BY rank DESC, doc")
    },
    "q120_triangles" -> {
      val pairCtes =
        ("sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS (SELECT doc_a AS u, doc_b AS v FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01)")
      (s"WITH $pairCtes, "
        + "wedges AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM pairs e1 JOIN pairs e2 ON e1.v = e2.u), "
        + "tri AS (SELECT count(*) AS n_triangles FROM wedges w JOIN pairs p ON w.a = p.u AND w.c = p.v), "
        + "deg AS (SELECT d, count(*) AS deg FROM (SELECT u AS d FROM pairs UNION ALL SELECT v FROM pairs) GROUP BY d), "
        + "st AS (SELECT count(*) AS n_nodes, CAST(sum(deg) // 2 AS BIGINT) AS n_edges, "
        + "CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_triads FROM deg) "
        + "SELECT n_nodes, n_edges, n_triads, n_triangles, "
        + "round(CAST(3 AS DOUBLE) * n_triangles / n_triads, 6) AS clustering "
        + "FROM st CROSS JOIN tri")
    },
    "q41_cosine_topk" ->
      ("WITH probes AS (SELECT vec_id AS probe_id, embedding AS p_emb FROM embeddings WHERE vec_id < 3), "
        + "sim AS (SELECT probe_id, vec_id, round(list_sum(list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * CAST(p_emb[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(p_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos "
        + "FROM embeddings CROSS JOIN probes WHERE vec_id <> probe_id) "
        + "SELECT probe_id, rn, vec_id, cos FROM (SELECT probe_id, vec_id, cos, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn FROM sim) "
        + "WHERE rn <= 5 ORDER BY probe_id, rn"),
    "q42_centroid_knn" ->
      ("WITH expl AS (SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS x FROM embeddings), "
        + "cent AS (SELECT label AS clabel, list(round(c, 6) ORDER BY pos) AS cvec FROM (SELECT label, pos, avg(CAST(x AS DOUBLE)) AS c FROM expl GROUP BY label, pos) GROUP BY label), "
        + "dist AS (SELECT e.vec_id, e.label, c.clabel, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
        + "(CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS d2 FROM embeddings e CROSS JOIN cent c) "
        + "SELECT label, pred, count(*) AS cnt FROM (SELECT vec_id, label, clabel AS pred, row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn FROM dist) "
        + "WHERE rn = 1 GROUP BY label, pred ORDER BY label, pred"),
    "q43_simjoin_string" ->
      ("WITH names AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name) "
        + "SELECT a.p_name AS name_a, b.p_name AS name_b, levenshtein(a.p_name, b.p_name) AS lev, a.n_parts AS cnt_a, b.n_parts AS cnt_b "
        + "FROM names a JOIN names b ON a.p_name < b.p_name WHERE levenshtein(a.p_name, b.p_name) <= 3 ORDER BY name_a, name_b"),
    "q165_vocab_coverage" ->
      ("WITH t AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "vocab AS (SELECT tok FROM (SELECT tok, count(*) AS cnt FROM t GROUP BY tok ORDER BY cnt DESC, tok LIMIT 10)), "
        + "pd AS (SELECT doc_id, count(*) AS n_tok, CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_inv "
        + "FROM t LEFT JOIN vocab v USING (tok) GROUP BY doc_id), "
        + "b AS (SELECT least(CAST(floor(CAST(n_inv AS DOUBLE) / n_tok * 10) AS INT), 9) AS bucket, n_tok, n_inv FROM pd) "
        + "SELECT bucket, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens, "
        + "CAST(sum(n_tok - n_inv) AS BIGINT) AS oov_tokens, "
        + "round(CAST(sum(n_tok - n_inv) AS DOUBLE) / sum(n_tok), 6) AS oov_rate "
        + "FROM b GROUP BY bucket ORDER BY bucket"),
    "q166_heaps_law" ->
      ("WITH t AS (SELECT doc_id, tok, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 20 AS b "
        + "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "tt AS (SELECT b, count(*) AS tk FROM t GROUP BY b), "
        + "nv AS (SELECT b, count(*) AS tv FROM (SELECT tok, min(b) AS b FROM t GROUP BY tok) GROUP BY b), "
        + "pts AS (SELECT coalesce(tt.b, nv.b) AS b, coalesce(tk, 0) AS tk, coalesce(tv, 0) AS tv FROM tt FULL JOIN nv ON tt.b = nv.b), "
        + "cum AS (SELECT b, tk, tv, "
        + "CAST(sum(tk) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_t, "
        + "CAST(sum(tv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v FROM pts), "
        + "xy AS (SELECT tk, tv, CAST(ln(CAST(cum_t AS DOUBLE)) AS DECIMAL(28,12)) AS x, "
        + "CAST(ln(CAST(cum_v AS DOUBLE)) AS DECIMAL(28,12)) AS y FROM cum WHERE cum_t > 0 AND cum_v > 0), "
        + "agg AS (SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy, "
        + "sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS sxy, "
        + "sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS sxx, "
        + "CAST(sum(tk) AS BIGINT) AS tokens_total, CAST(sum(tv) AS BIGINT) AS vocab_total FROM xy), "
        + "s AS (SELECT k, tokens_total, vocab_total, sx, sy, "
        + "(k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        + "(k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope FROM agg) "
        + "SELECT k AS n_points, tokens_total, vocab_total, round(slope, 6) AS heaps_beta, "
        + "round(exp((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / k), 6) AS heaps_k FROM s"),
    "q181_cooccur_pmi" ->
      ("WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "t AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos FROM w WHERE len(w) >= 2), "
        + "pr AS (SELECT least(a.tok, b.tok) AS ta, greatest(a.tok, b.tok) AS tb "
        + "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 4), "
        + "ap AS (SELECT ta, tb, count(*) AS c_ab FROM pr GROUP BY 1, 2), "
        + "np AS (SELECT CAST(sum(c_ab) AS BIGINT) AS np FROM ap), "
        + "u AS (SELECT tok, count(*) AS cu FROM t GROUP BY 1), "
        + "nt AS (SELECT CAST(sum(cu) AS BIGINT) AS nt FROM u), "
        + "j AS (SELECT ap.ta, ap.tb, ap.c_ab, ua.cu AS ca, ub.cu AS cb FROM ap "
        + "JOIN u ua ON ua.tok = ap.ta JOIN u ub ON ub.tok = ap.tb WHERE ap.c_ab >= 5) "
        + "SELECT ta, tb, c_ab, ca, cb, "
        + "round(ln((CAST(c_ab AS DOUBLE) / np) / ((CAST(ca AS DOUBLE) / nt) * (CAST(cb AS DOUBLE) / nt))), 6) AS pmi "
        + "FROM j CROSS JOIN np CROSS JOIN nt ORDER BY c_ab DESC, ta, tb LIMIT 30"),
    "q175_containment" ->
      ("WITH sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
        + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
        + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
        + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
        + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
        + "cand AS (SELECT doc_a, doc_b, inter, sa.n_sh AS na, sb.n_sh AS nb, "
        + "round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard, "
        + "round(CAST(inter AS DOUBLE) / sa.n_sh, 6) AS cont_a_in_b, "
        + "round(CAST(inter AS DOUBLE) / sb.n_sh, 6) AS cont_b_in_a "
        + "FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b) "
        + "SELECT doc_a, doc_b, inter, na, nb, cont_a_in_b, cont_b_in_a FROM cand "
        + "WHERE jaccard >= 0.01 AND (cont_a_in_b >= 0.5 OR cont_b_in_a >= 0.5) "
        + "ORDER BY doc_a, doc_b"),
    "q174_assortativity" -> {
      val pairCtes =
        ("sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01), "
          + "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), "
          + "deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u)")
      (s"WITH $pairCtes, "
        + "nn AS (SELECT count(*) AS n_nodes FROM deg), "
        + "agg AS (SELECT count(*) AS m, CAST(sum(a.deg) AS BIGINT) AS sx, CAST(sum(b.deg) AS BIGINT) AS sy, "
        + "sum(CAST(a.deg * b.deg AS DECIMAL(38,0))) AS sxy, "
        + "sum(CAST(a.deg * a.deg AS DECIMAL(38,0))) AS sxx, "
        + "sum(CAST(b.deg * b.deg AS DECIMAL(38,0))) AS syy "
        + "FROM edges e JOIN deg a ON a.u = e.u JOIN deg b ON b.u = e.v) "
        + "SELECT n_nodes, m AS n_edges_directed, "
        + "round((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) / "
        + "nullif(sqrt((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) * "
        + "(m * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 0.0), 6) AS assortativity "
        + "FROM agg CROSS JOIN nn")
    },
    "q226_chao1" ->
      ("WITH t AS (SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "tc AS (SELECT tok, count(*) AS c FROM t GROUP BY tok), "
        + "agg AS (SELECT count(*) AS vocab, CAST(sum(c) AS BIGINT) AS n_tokens, "
        + "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2 FROM tc) "
        + "SELECT vocab, n_tokens, n1, n2, "
        + "round(vocab + CAST(n1 AS DOUBLE) * (n1 - 1) / (2.0 * (n2 + 1)), 6) AS chao1, "
        + "round(CAST(n1 AS DOUBLE) / n_tokens, 6) AS gt_unseen_mass, "
        + "round(1.0 - CAST(n1 AS DOUBLE) / n_tokens, 6) AS gt_coverage FROM agg"),
    // q228/q229: q40's candidate-pair CTEs verbatim, then the bounded
    // peel / CC iterations unrolled as chained CTEs (same iteration
    // count as the Spark side, so the fixpoints agree row-for-row).
    // Multiply-referenced levels are AS MATERIALIZED: DuckDB otherwise
    // inlines each e_i into its ~4 consumers and re-evaluates the
    // shingle pipeline combinatorially (measured: >12 min inlined vs
    // 0.6 s materialized at sf0.001).
    "q228_kcore" -> {
      val pairCtes =
        ("sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01)")
      val levels = (0 until 4).map(i =>
        s"b$i AS MATERIALIZED (SELECT doc_a AS u FROM e$i UNION ALL SELECT doc_b FROM e$i), "
          + s"k$i AS (SELECT u FROM b$i GROUP BY u HAVING count(*) >= 2), "
          + s"e${i + 1} AS MATERIALIZED (SELECT e.doc_a, e.doc_b FROM e$i e JOIN k$i a ON a.u = e.doc_a JOIN k$i b ON b.u = e.doc_b)")
        .mkString(", ")
      val stats = (0 to 4).map(i =>
        s"SELECT $i AS iter, (SELECT count(DISTINCT u) FROM (SELECT doc_a AS u FROM e$i UNION ALL SELECT doc_b FROM e$i)) AS n_nodes, "
          + s"(SELECT count(*) FROM e$i) AS n_edges").mkString(" UNION ALL ")
      (s"WITH $pairCtes, e0 AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs), $levels "
        + s"SELECT * FROM ($stats) ORDER BY iter")
    },
    // q279: q40's candidate-pair CTEs verbatim, then 4 BFS frontier
    // expansions unrolled as chained MATERIALIZED CTEs (r_i = reached
    // within i hops; f_i = the new frontier at exactly i hops).
    "q279_graph_reach" -> {
      val pairCtes =
        ("sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01)")
      val levels = (1 to 4).map(i =>
        s"f$i AS MATERIALIZED (SELECT DISTINCT e.v AS doc FROM edges e JOIN r${i - 1} r ON r.doc = e.u AND r.d = ${i - 1} "
          + s"WHERE e.v NOT IN (SELECT doc FROM r${i - 1})), "
          + s"r$i AS MATERIALIZED (SELECT doc, d FROM r${i - 1} UNION ALL SELECT doc, $i FROM f$i)")
        .mkString(", ")
      (s"WITH $pairCtes, "
        + "edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), "
        + "nodes AS (SELECT DISTINCT u AS doc FROM edges), "
        + "seeds AS (SELECT DISTINCT doc_a AS doc FROM pairs WHERE doc_a NOT IN (SELECT doc_b FROM pairs)), "
        + "r0 AS MATERIALIZED (SELECT doc, 0 AS d FROM seeds), "
        + s"$levels "
        + "SELECT coalesce(r.d, -1) AS dist, CAST(count(*) AS BIGINT) AS n_docs, "
        + "min(n.doc) AS min_doc, max(n.doc) AS max_doc "
        + "FROM nodes n LEFT JOIN r4 r ON r.doc = n.doc GROUP BY 1 ORDER BY 1")
    },
    "q229_cluster_sizes" -> {
      val pairCtes =
        ("sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01), "
          + "edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), "
          + "l0 AS MATERIALIZED (SELECT DISTINCT u AS doc, u AS lbl FROM edges)")
      val iters = (0 until 5).map(i =>
        s"l${i + 1} AS MATERIALIZED (SELECT doc, min(lbl) AS lbl FROM (SELECT doc, lbl FROM l$i "
          + s"UNION ALL SELECT e.u AS doc, l.lbl FROM edges e JOIN l$i l ON l.doc = e.v) GROUP BY doc)").mkString(", ")
      (s"WITH $pairCtes, $iters, "
        + "cl AS (SELECT lbl, count(*) AS sz FROM l5 GROUP BY lbl) "
        + "SELECT sz AS cluster_size, count(*) AS n_clusters FROM cl GROUP BY sz ORDER BY cluster_size")
    },
    // q238: q181's pair CTEs → 6dp-rounded PPMI cells (identical on
    // both engines) → the q235-style unrolled matrix-free iterations.
    // Iterated frames AS MATERIALIZED (q228's lesson).
    "q238_ppmi_spectral" -> {
      val iters = (0 until 3).map(i =>
        s"w${i + 1} AS MATERIALIZED (SELECT c.ti AS tok, CAST(sum(CAST(c.p * v.v AS DECIMAL(28,12))) AS DOUBLE) AS wv "
          + s"FROM cells c JOIN v$i v ON v.tok = c.tj GROUP BY c.ti), "
          + s"n${i + 1} AS (SELECT sqrt(CAST(sum(CAST(wv * wv AS DECIMAL(28,12))) AS DOUBLE)) AS nrm FROM w${i + 1}), "
          + s"v${i + 1} AS MATERIALIZED (SELECT tok, wv / nrm AS v FROM w${i + 1} CROSS JOIN n${i + 1})")
        .mkString(", ")
      ("WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "t AS (SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS pos FROM w WHERE len(w) >= 2), "
        + "pr AS (SELECT least(a.tok, b.tok) AS ta, greatest(a.tok, b.tok) AS tb "
        + "FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 4), "
        + "ap AS (SELECT ta, tb, count(*) AS c_ab FROM pr GROUP BY 1, 2), "
        + "np AS (SELECT CAST(sum(c_ab) AS BIGINT) AS np FROM ap), "
        + "u AS (SELECT tok, count(*) AS cu FROM t GROUP BY 1), "
        + "nt AS (SELECT CAST(sum(cu) AS BIGINT) AS nt FROM u), "
        + "half AS (SELECT ta, tb, ppmi FROM (SELECT ap.ta, ap.tb, "
        + "round(greatest(ln((CAST(ap.c_ab AS DOUBLE) / np) / ((CAST(ua.cu AS DOUBLE) / nt) * (CAST(ub.cu AS DOUBLE) / nt))), 0.0), 6) AS ppmi "
        + "FROM ap JOIN u ua ON ua.tok = ap.ta JOIN u ub ON ub.tok = ap.tb "
        + "CROSS JOIN np CROSS JOIN nt WHERE ap.c_ab >= 5) WHERE ppmi > 0.0), "
        + "cells AS MATERIALIZED (SELECT ta AS ti, tb AS tj, ppmi AS p FROM half "
        + "UNION ALL SELECT tb, ta, ppmi FROM half WHERE ta <> tb), "
        + "nodes AS MATERIALIZED (SELECT DISTINCT ti FROM cells), "
        + "v0 AS (SELECT ti AS tok, 1.0 AS v FROM nodes), "
        + s"$iters, "
        + "wf AS (SELECT c.ti AS tok, CAST(sum(CAST(c.p * v.v AS DECIMAL(28,12))) AS DOUBLE) AS wv "
        + "FROM cells c JOIN v3 v ON v.tok = c.tj GROUP BY c.ti), "
        + "lf AS (SELECT sqrt(CAST(sum(CAST(wv * wv AS DECIMAL(28,12))) AS DOUBLE)) AS lambda1 FROM wf), "
        + "nc AS (SELECT count(*) AS n_cells FROM cells), "
        + "nn AS (SELECT count(*) AS n_tokens FROM nodes) "
        + "SELECT tok, round(abs(v), 6) AS loading, round(lambda1, 6) AS lambda1, n_tokens, n_cells "
        + "FROM v3 CROSS JOIN lf CROSS JOIN nn CROSS JOIN nc "
        + "ORDER BY loading DESC, tok LIMIT 5")
    },
    // q239: q80's CC CTEs + the savings rollup (survivor chars via
    // arg_min ≡ Spark's min(struct(doc, n_chars)) on unique docs).
    "q239_dedup_savings" -> {
      val pairCtes =
        ("sh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairs AS (SELECT doc_a, doc_b FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01), "
          + "edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs), "
          + "l0 AS MATERIALIZED (SELECT DISTINCT u AS doc, u AS lbl FROM edges)")
      val iters = (0 until 5).map(i =>
        s"l${i + 1} AS MATERIALIZED (SELECT doc, min(lbl) AS lbl FROM (SELECT doc, lbl FROM l$i "
          + s"UNION ALL SELECT e.u AS doc, l.lbl FROM edges e JOIN l$i l ON l.doc = e.v) GROUP BY doc)").mkString(", ")
      (s"WITH $pairCtes, $iters, "
        + "per AS (SELECT l.lbl, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS chars, "
        + "arg_min(d.n_chars, l.doc) AS surv_chars FROM l5 l JOIN documents d ON d.doc_id = l.doc GROUP BY l.lbl), "
        + "tot AS (SELECT count(*) AS corpus_docs, CAST(sum(n_chars) AS BIGINT) AS corpus_chars FROM documents), "
        + "agg AS (SELECT count(*) AS n_clusters, CAST(sum(n_docs) AS BIGINT) AS docs_in_clusters, "
        + "CAST(sum(n_docs - 1) AS BIGINT) AS docs_removed, CAST(sum(chars - surv_chars) AS BIGINT) AS chars_removed FROM per) "
        + "SELECT corpus_docs, corpus_chars, n_clusters, docs_in_clusters, docs_removed, chars_removed, "
        + "round(docs_removed / CAST(corpus_docs AS DOUBLE), 6) AS docs_removed_frac, "
        + "round(chars_removed / CAST(corpus_chars AS DOUBLE), 6) AS chars_removed_frac "
        + "FROM agg CROSS JOIN tot")
    },
  )
}
