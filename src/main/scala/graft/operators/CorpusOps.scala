package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines: packing documents
  * into fixed-length context windows and selecting documents under a token
  * budget. Both need an exact global prefix sum over a deterministic
  * document order; they reuse [[SortOps.globalCumSums]]' two-level
  * formulation (per-partition sums + driver offsets), so neither serializes
  * through a single task at 100 TB — the shuffle is one range partition on
  * the ordering key.
  *
  * These extend the reference's batch surface the way a large-scale LM data
  * pipeline needs (no reference twin exists; the closest shape is the
  * total-order machinery, reference: hadoop-mapreduce-client-core
  * .../lib/partition/TotalOrderPartitioner.java:50).
  */
object CorpusOps {

  /** Deterministic global corpus order: md5 of the id, id tiebreak — stable
    * across runs, engines, and partitionings, and independent of ingest
    * order (the property that makes packed examples reproducible). Shared
    * definition: [[graft.functions.TextFunctions.hashOrder]]. */
  private def corpusOrder(idCol: Column): Seq[Column] =
    graft.functions.TextFunctions.hashOrder(idCol)

  /** GPT-style sequence packing: documents are concatenated in the
    * deterministic hash order and split into back-to-back examples of
    * `contextLen` tokens — documents straddle example boundaries, standard
    * causal-LM packing (no padding waste). Per document: its global token
    * offset, the first/last example it lands in, and whether it straddles a
    * boundary. Empty documents (0 tokens) are dropped. Integer `div` keeps
    * the example arithmetic exact at any offset magnitude. */
  def packSequences(df: DataFrame, idCol: Column, nTokensCol: Column,
      contextLen: Int): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive: $contextLen")
    val withN = df.withColumn("n_tokens", nTokensCol.cast("long"))
      .filter(col("n_tokens") > 0)
    SortOps.globalCumSums(withN, corpusOrder(idCol), Seq(col("n_tokens")),
        Seq("cum_tokens"))
      .withColumn("start_offset", col("cum_tokens") - col("n_tokens"))
      .withColumn("first_example", expr(s"start_offset div $contextLen"))
      .withColumn("last_example", expr(s"(cum_tokens - 1) div $contextLen"))
      .withColumn("straddles", col("first_example") =!= col("last_example"))
  }

  /** Per-group cap — "at most k documents per domain", the anti-oversampling
    * staple for crawl-heavy corpora. Which k survive is deterministic (hash
    * order, not ingest order), so the kept set is stable across runs and
    * engines. Runs on the engine's NATIVE top-k-per-key operator
    * ([[SortOps.topKPerKey]]): per-partition bounded heaps cap each
    * group map-side, so only `partitions × groups × k` candidates cross
    * the exchange — the old per-group `row_number` window shuffled and
    * sorted every row of the over-cap mega-domains this op exists to
    * tame. */
  def capPerGroup(df: DataFrame, groupCol: Column, idCol: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // (md5(id), id) ascending = the portable hash order; the struct's
    // lexicographic ordering matches the old window's multi-column sort
    SortOps.topKPerKey(df, Seq(groupCol),
      org.apache.spark.sql.functions.struct(corpusOrder(idCol): _*), k)
  }

  /** Deterministic training-shard export: shard = portable md5 bucket mod
    * `nShards`, rank within shard = position in hash order. Together these
    * give a reproducible global permutation of the corpus split into equal
    * shards — "shuffle the data once, globally, the same way every time" —
    * without any random state. One shuffle on the shard id; the within-shard
    * sort is local to each shard's partition. */
  def shardShuffle(df: DataFrame, idCol: Column, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    val bucket = graft.functions.TextFunctions.portableBucket(idCol, nShards.toLong)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(corpusOrder(idCol): _*)
    df.withColumn("shard", bucket)
      .withColumn("shard_rank", row_number().over(w).cast("long"))
  }

  /** Word co-occurrence association mining: presence-based PMI lift over the
    * corpus. Tokens are whitespace-split and de-duplicated per document
    * (presence, not frequency); a pair's lift is P(w1,w2) / (P(w1)·P(w2)) =
    * c12·D / (c1·c2) — PMI without the log. Every value derives from exact
    * integer counts by IEEE double arithmetic, so results are bit-identical
    * across engines (libm `log` is not mandated correctly-rounded; lift is
    * division, which is). Scale: pair generation is a posting-list self-join
    * per document bounded by the `minDf` vocabulary-support floor (at 100 TB
    * you additionally cap considered words per document); the pair group-by
    * reduces with map-side partial counts, and `minPair` floors co-occurrence
    * support. Document-frequency counts ride along the join (constant within
    * a pair group), so the vocabulary is never re-joined. */
  def pmiPairs(df: DataFrame, idCol: Column, textCol: Column,
      minDf: Long, minPair: Long): DataFrame = {
    require(minDf > 0 && minPair > 0, "support floors must be positive")
    val nDocs = df.count().toDouble
    val posting = df.select(idCol.as("doc_id"),
      explode(array_distinct(filter(split(textCol, "\\s+"), t => t =!= ""))).as("w"))
    val dfCounts = posting.groupBy("w").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minDf)
    val pruned = posting.join(dfCounts, Seq("w"))
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("c12"), min(col("a.c")).as("c1"), min(col("b.c")).as("c2"))
      .filter(col("c12") >= minPair)
      .select(col("w1"), col("w2"), col("c12"),
        floor(col("c12").cast("double") * lit(nDocs)
            / (col("c1").cast("double") * col("c2").cast("double"))
            * lit(1e6) + lit(0.5))
          .cast("long").as("lift_e6"))
  }

  /** Per-group token (Shannon) entropy in nats — the lexical-diversity
    * signal corpus curation uses to catch template farms and boilerplate
    * sources: a source whose million documents reuse 50 tokens scores near
    * zero however large it is. Returns
    * `(g, n_tokens, vocab, entropy_e9)` with the entropy as an exact
    * integer sum of per-type floor-quantized `-p·ln p` terms, so the
    * reduction is order-independent (libm `log` is not mandated
    * correctly-rounded; quantizing each term before the sum makes the
    * gate engine-portable, same recipe as [[MapOps.bigramSurprisal]]).
    *
    * Shape: tokenize → one shuffle to (group, token) counts → per-group
    * totals reduce from the counts → one group-keyed join between two
    * aggregates. Hot groups partial-aggregate map-side; nothing is
    * windowed or collected. */
  def tokenEntropy(df: DataFrame, groupCol: Column, textCol: Column): DataFrame = {
    val toks = df.select(groupCol.as("g"),
      explode(filter(split(textCol, "\\s+"), t => t =!= "")).as("w"))
    val counts = toks.groupBy("g", "w").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("g")
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("vocab"))
    counts.join(totals, "g")
      .withColumn("p", col("c").cast("double") / col("tot").cast("double"))
      .withColumn("term_e9", floor(-col("p") * log(col("p")) * lit(1e9) + lit(0.5))
        .cast("long"))
      .groupBy("g")
      .agg(min(col("tot")).as("n_tokens"), min(col("vocab")).as("vocab"),
        sum(col("term_e9")).as("entropy_e9"))
  }

  /** Skip-gram pair counts — the (center, context) co-occurrence table
    * embedding training starts from: every ordered token pair at distance
    * 1..`window` within a document, counted corpus-wide, floored at
    * `minPair` support. Directed (both orientations of a pair count
    * separately), matching word2vec's center→context convention.
    *
    * Shape: tokenize with positions, then a per-document positional
    * self-join — shuffles on doc id, per-document output is O(len·window),
    * never cross-document. The pair rollup partial-aggregates map-side,
    * and `minPair` keeps the long tail of hapax pairs out of the result
    * (at 100 TB you also floor the vocabulary first, [[pmiPairs]]-style). */
  def skipgramPairs(df: DataFrame, idCol: Column, textCol: Column,
      window: Int, minPair: Long): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val pos = df.select(idCol.as("doc_id"),
        posexplode(filter(split(textCol, "\\s+"), t => t =!= "")))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("w"))
    val a = pos.select(col("doc_id"), col("i"), col("w").as("w1"))
    val b = pos.select(col("doc_id").as("d2"), col("i").as("j"), col("w").as("w2"))
    a.join(b, col("doc_id") === col("d2") && col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= window)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minPair)
  }

  /** BM25 relevance scores for a bag-of-terms query over the corpus —
    * the classic retrieval scorer (Robertson/Lucene non-negative idf
    * variant): `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))`
    * with `idf = ln((N - df + 0.5)/(df + 0.5) + 1)`. Returns
    * `(doc_id, n_terms, score_e6)` for documents matching ≥ 1 term, the
    * score an exact integer sum of per-term floor-quantized contributions
    * (order-independent reduction; `dl` totals stay integer so `avgdl` is
    * one exact division, not a drifting double sum).
    *
    * Shape: term frequencies reduce per (doc, term) map-side after an
    * `isin` filter that prunes the posting build to the query's terms;
    * document frequencies reduce from the tf table (tiny); corpus stats
    * (N, avgdl) ride a 1-row crossJoin, [[GraphOps.pagerank]]-style, so
    * scoring is one scan plus group-keyed joins — nothing collects. */
  def bm25(df: DataFrame, idCol: Column, textCol: Column, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = df.select(idCol.as("doc_id"),
      filter(split(textCol, "\\s+"), t => t =!= "").as("ws"))
    val dl = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.select(col("doc_id"), explode(col("ws")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("w").agg(count(lit(1)).as("df_t"))
    tf.join(dfT, "w").join(dl, "doc_id").crossJoin(stats)
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df_t") + lit(0.5))
          / (col("df_t").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("term_e6",
        floor(col("idf") * col("tf").cast("double") * lit(k1 + 1.0)
          / (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
          * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("term_e6")).as("score_e6"))
  }

  /** Data selection under a token budget: keep documents in quality-desc
    * (hash-tiebroken) order while the running token total stays within
    * `budget` — the greedy prefix rule, the standard corpus-curation step
    * ("take the best N billion tokens"). Deterministic: same budget + same
    * corpus = same selection, on any engine. */
  def tokenBudgetSelect(df: DataFrame, idCol: Column, qualityCol: Column,
      nTokensCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val withN = df.withColumn("n_tokens", nTokensCol.cast("long"))
    SortOps.globalCumSums(withN,
        qualityCol.desc +: corpusOrder(idCol),
        Seq(col("n_tokens")), Seq("cum_tokens"))
      .filter(col("cum_tokens") <= budget)
  }

  /** Importance-resampling weights (the hashed-feature log-likelihood-ratio
    * scorer of DSIR — Xie et al. 2023, "Data Selection via Importance
    * Resampling"): score every document by how target-like its token
    * distribution is, so a raw pool can be resampled toward a small
    * high-quality target set. Tokens hash into `nBuckets` feature buckets
    * (first 8 hex digits of md5 — engine-portable, mirrored by the oracle);
    * the target/source rows (per `isTarget`) induce two smoothed bucket
    * distributions p̂, q̂, and a document's weight is
    * `Σ_g c_{d,g} · (ln p̂_g − ln q̂_g)` over its bucket counts. Returns
    * `(doc_id, n_feats, weight_e6)` with each (doc, bucket) term
    * floor-quantized to 1e-6 before the integer sum, so the reduction is
    * order-independent and bit-identical across engines.
    *
    * Shape: one tokenize+hash scan; bucket distributions reduce map-side to
    * `nBuckets` rows (broadcast-joined back — the corpus never re-shuffles);
    * per-doc bucket counts reduce map-side on (doc, bucket); totals ride a
    * 1-row crossJoin. At 100 TB the only large shuffle is the (doc, bucket)
    * rollup, bounded by corpus token count and combiner-compressed to at
    * most `nBuckets` rows per document. */
  def importanceWeights(df: DataFrame, idCol: Column, textCol: Column,
      isTarget: Column, nBuckets: Int = 256, alpha: Double = 1.0): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    val toks = df.select(idCol.as("doc_id"), isTarget.cast("boolean").as("is_target"),
        explode(filter(split(textCol, "\\s+"), t => t =!= "")).as("w"))
      .withColumn("g",
        pmod(conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"), lit(nBuckets)))
    val dist = toks.groupBy("g").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).as("p_g"),
      sum(when(col("is_target"), 0L).otherwise(1L)).as("q_g"))
    val totals = dist.agg(sum(col("p_g")).as("p_tot"), sum(col("q_g")).as("q_tot"))
    val lr = dist.crossJoin(totals).select(col("g"),
      (log((col("p_g").cast("double") + lit(alpha))
          / (col("p_tot").cast("double") + lit(alpha * nBuckets)))
        - log((col("q_g").cast("double") + lit(alpha))
          / (col("q_tot").cast("double") + lit(alpha * nBuckets)))).as("lr"))
    toks.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .join(lr, "g")
      .withColumn("term_e6",
        floor(col("c").cast("double") * col("lr") * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"), sum(col("term_e6")).as("weight_e6"))
  }

  /** Multinomial Naive-Bayes TRAINING over a labeled corpus — the
    * classical domain/quality labeling pass (the role fastText plays in
    * CCNet-style pipelines, in its closed-form cousin): per-(label,
    * token) add-α log-probabilities, plus one meta row per label
    * (`w = NULL`) carrying the label's log-prior and the smoothed
    * default for unseen tokens. The returned frame IS the model — a
    * plain persistable table (parquet/TxLog) that [[nbScore]] consumes,
    * so training runs once and scoring batches never re-count the
    * corpus.
    *
    * Determinism: every log quantizes to a 1e-9-scaled long at train
    * time; scoring is then EXACT integer arithmetic, so argmax ties are
    * bit-stable in any engine. Scale: two token-keyed hash aggregations
    * with map-side partials; V and doc totals travel as 1-row broadcast
    * cross joins. */
  def nbTrain(df: DataFrame, labelCol: Column, textCol: Column,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    val toks = df.select(labelCol.as("label"),
      explode(filter(split(textCol, "\\s+"), t => t =!= "")).as("w"))
    val lt = toks.groupBy("label", "w").agg(count(lit(1)).as("c"))
    val lsum = lt.groupBy("label").agg(sum(col("c")).as("cl"))
    val vocab = toks.agg(countDistinct(col("w")).as("v"))
    val nd = df.groupBy(labelCol.as("label")).agg(count(lit(1)).as("nd"))
    val ndTot = df.agg(count(lit(1)).as("ndt"))
    val weights = lt.join(lsum, "label").crossJoin(broadcast(vocab))
      .select(col("label"), col("w"),
        floor(log((col("c").cast("double") + lit(alpha))
          / (col("cl").cast("double") + lit(alpha) * col("v")))
          * 1e9 + 0.5).cast("long").as("lp_e9"),
        lit(null).cast("long").as("prior_e9"))
    val meta = nd.join(lsum, "label")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(ndTot))
      .select(col("label"), lit(null).cast("string").as("w"),
        floor(log(lit(alpha)
          / (col("cl").cast("double") + lit(alpha) * col("v")))
          * 1e9 + 0.5).cast("long").as("lp_e9"),
        floor(log(col("nd").cast("double") / col("ndt"))
          * 1e9 + 0.5).cast("long").as("prior_e9"))
    weights.unionByName(meta)
  }

  /** Score documents against an [[nbTrain]] model: per doc, per label,
    * `score_e9 = prior_e9 + Σ_tokens count·lp_e9` (unseen tokens take the
    * label's smoothed default from the meta row), released as the argmax
    * label with its score — ties break on the smaller label, exactly
    * reproducible because every addend is an integer. Emits
    * `(doc_id, label, score_e9)`; documents with zero tokens are not
    * scored (no evidence → no claim, the same contract as [[perplexity]]).
    *
    * Scale: the doc-token count is corpus-linear; the per-label fan-out
    * multiplies by |labels| (a handful — broadcast meta rows); the model
    * join is an ordinary (label, token) equi-join (AQE broadcasts small
    * models); the argmax is a per-doc window over |labels| rows. */
  def nbScore(df: DataFrame, idCol: Column, textCol: Column,
      model: DataFrame): DataFrame = {
    val weights = model.filter(col("w").isNotNull)
      .select(col("label"), col("w"), col("lp_e9"))
    val meta = model.filter(col("w").isNull)
      .select(col("label"), col("lp_e9").as("_def_e9"), col("prior_e9"))
    val tc = df.select(idCol.as("doc_id"),
        explode(filter(split(textCol, "\\s+"), t => t =!= "")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val scored = tc.crossJoin(broadcast(meta))
      .join(weights, Seq("label", "w"), "left_outer")
      .groupBy(col("doc_id"), col("label"), col("prior_e9"))
      .agg(sum(col("c") * coalesce(col("lp_e9"), col("_def_e9"))).as("_s"))
      .select(col("doc_id"), col("label"),
        (col("prior_e9") + col("_s")).as("score_e9"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("score_e9").desc, col("label"))
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("doc_id"), col("label"), col("score_e9"))
  }

  /** Bigram-LM perplexity scoring — the CCNet/Gopher quality filter: train
    * an add-α smoothed bigram model ON the corpus itself, then score each
    * document by its average negative log-likelihood (low = fluent w.r.t.
    * the corpus, high = gibberish/outlier — the filter threshold's axis).
    * `p(w₂|w₁) = (c(w₁w₂) + α) / (c(w₁) + α·V)` with V the corpus
    * unigram vocabulary.
    *
    * Determinism: each bigram's −ln p quantizes to 1e-9 BEFORE the
    * per-document sum (exact long fold — a float sum over a long doc
    * drifts past the quantum under reordering); the released average
    * re-quantizes the exact ratio. Emits
    * `(doc_id, n_bigrams, avg_nll_e9)`.
    *
    * Scale: token/bigram count tables shuffle on their natural keys with
    * map-side partials; scoring joins the doc bigram stream against them
    * key-wise (AQE broadcasts when the model is small); V travels as a
    * 1-row broadcast cross join. No collect, nothing quadratic. */
  def perplexity(df: DataFrame, idCol: Column, textCol: Column,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0: $alpha")
    val toks = df.select(idCol.as("doc_id"),
        posexplode(filter(split(textCol, "\\s+"), t => t =!= "")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy("pos")
    val big = toks
      .withColumn("w2", lead(col("w"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w").as("w1"), col("w2"))
    val uni = toks.groupBy(col("w").as("w1"))
      .agg(count(lit(1)).as("c1"))
    val bigCounts = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    big
      .join(bigCounts, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(vocab)
      .withColumn("_nll_e9",
        floor(-log((col("c12") + lit(alpha))
          / (col("c1") + lit(alpha) * col("v"))) * 1e9 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nll_e9")).as("_s"))
      .select(col("doc_id"), col("n_bigrams"),
        floor(col("_s").cast("double") / col("n_bigrams") + 0.5)
          .cast("long").as("avg_nll_e9"))
  }

  /** Zipf rank-frequency fit — the corpus-health screen: a natural-text
    * corpus's token frequencies follow `freq ∝ rank^s` with s ≈ −1, and
    * template spam, boilerplate floods, or truncated crawls bend the
    * log-log line visibly. Releases the OLS fit of ln(freq) on ln(rank)
    * over the vocabulary (above `minCount`): one row
    * `(n_types, n_tokens, slope_e6, intercept_e6)`.
    *
    * Determinism: both logs quantize to 1e-9 scaled longs per vocab row
    * BEFORE the moment sums; the moments fold exactly (squares through
    * decimal(38) — an e9-scaled log squared overflows a long), and the
    * slope/intercept are pure IEEE functions of those exact integers.
    * Rank ties break on the token string, as in [[MapOps.buildVocab]].
    *
    * Scale: the token count is a map-side-partial hash agg over the
    * corpus; everything after runs on the minCount-filtered vocabulary
    * (bounded, millions not billions), where the rank window's single
    * partition is the same accepted shape as buildVocab. */
  def zipfFit(df: DataFrame, textCol: Column, minCount: Long = 5): DataFrame = {
    val counts = df
      .select(explode(graft.functions.TextFunctions.tokens(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("w"))
    val q = counts
      .withColumn("_rnk", row_number().over(wRank).cast("long"))
      .select(col("cnt"),
        floor(log(col("_rnk").cast("double")) * 1e9 + 0.5).cast("long")
          .as("_lx"),
        floor(log(col("cnt").cast("double")) * 1e9 + 0.5).cast("long")
          .as("_ly"))
    q.agg(count(lit(1)).as("_n"),
        sum(col("cnt")).as("_ntok"),
        sum(col("_lx").cast("decimal(38,0)")).as("_sx"),
        sum(col("_ly").cast("decimal(38,0)")).as("_sy"),
        sum((col("_lx").cast("decimal(38,0)") * col("_lx"))).as("_sxx"),
        sum((col("_lx").cast("decimal(38,0)") * col("_ly"))).as("_sxy"))
      .withColumn("_covn",
        (col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double"))
      .withColumn("_vx",
        (col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double"))
      .select(col("_n").as("n_types"), col("_ntok").as("n_tokens"),
        floor(col("_covn") / col("_vx") * 1e6 + 0.5).cast("long")
          .as("slope_e6"),
        floor((col("_sy").cast("double") / 1e9
            - col("_covn") / col("_vx") * (col("_sx").cast("double") / 1e9))
          / col("_n") * 1e6 + 0.5).cast("long").as("intercept_e6"))
  }

  /** Per-document lexical-diversity statistics: token count, type count,
    * hapax count (types occurring once), type-token ratio, and hapax
    * share — the cheap quality screens that catch keyword stuffing
    * (TTR collapses) and gibberish (hapax share saturates). Emits
    * `(doc_id, n_tokens, n_types, n_hapax, ttr_e6, hapax_e6)`; empty
    * docs produce no row (no tokens to describe).
    *
    * Scale: explode → two hash aggregations ((doc, token) then doc),
    * both partial map-side; no windows, no per-doc quadratic array
    * scans (the array-functions formulation of "hapax" is O(len²) per
    * row — the aggregation form is O(len)). */
  def lexicalStats(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.select(idCol.as("doc_id"),
        explode(graft.functions.TextFunctions.tokens(textCol)).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        floor(col("n_types").cast("double") / col("n_tokens") * 1e6 + 0.5)
          .cast("long").as("ttr_e6"),
        floor(col("n_hapax").cast("double") / col("n_types") * 1e6 + 0.5)
          .cast("long").as("hapax_e6"))

  /** Temperature-based mixture sampling — per-group keep rates derived
    * from the corpus's own counts by the `n^α` rule (the multilingual /
    * T5 sampling temperature: α < 1 flattens the distribution, keeping
    * rare groups at full rate while downsampling the head): group i gets
    * target mass ∝ n_i^α, renormalized to an overall `targetFraction`
    * of the corpus, capped at rate 1. Selection is the deterministic
    * portable-hash gate every sampler here shares, so the exact kept
    * SET is engine-reproducible.
    *
    * Bit-determinism discipline (what makes the oracle hash-match):
    * n_i^α is quantized to an INTEGER `floor(·×10⁶)` before the
    * order-sensitive Σ, so the weight sum is an exact long fold; the
    * remaining rate arithmetic is one fixed-shape double expression over
    * integers, identical in any IEEE engine. α = 0.5 routes through
    * `sqrt` (correctly-rounded by IEEE mandate) — other α use `pow`,
    * where last-ulp divergence across libm implementations is possible.
    *
    * Scale: two tiny aggregates over group counts + one broadcast join;
    * the corpus is touched once, no shuffle of the data rows. */
  def temperatureMix(df: DataFrame, groupCol: Column, idCol: Column,
      alpha: Double, targetFraction: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1]: $alpha")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0,1]: $targetFraction")
    val counts = df.groupBy(groupCol.as("_g")).agg(count(lit(1)).as("_n"))
    val weighted = counts.withColumn("_s",
      floor((if (alpha == 0.5) sqrt(col("_n"))
             else pow(col("_n"), alpha)) * 1e6).cast("long"))
    val tot = weighted.agg(sum(col("_n")).as("_cN"), sum(col("_s")).as("_cW"))
    val rates = weighted.crossJoin(tot).select(col("_g"),
      least(lit(1.0), lit(targetFraction) * col("_cN") * col("_s") /
        (col("_cW").cast("double") * col("_n"))).as("_rate"))
    df.join(broadcast(rates), groupCol === col("_g"))
      .filter(graft.functions.TextFunctions.portableBucket(idCol, 1000000L) <
        floor(col("_rate") * 1e6))
      .withColumn("rate_e6", floor(col("_rate") * 1e6).cast("long"))
      .drop("_g", "_rate")
  }

  /** Gopher-rule page-level quality signals (public precedent: the
    * quality heuristics of Rae et al. 2021 §A1.1, the filter battery
    * every later corpus — MassiveText, RefinedWeb, Dolma — tuned rather
    * than replaced): per document, the five classic signals and the
    * composite keep decision —
    *
    *   - `n_words` within [minWords, maxWords]
    *   - `mean_word_len` within [minMeanLen, maxMeanLen]
    *   - `alpha_frac` (words containing a letter) ≥ minAlphaFrac
    *   - `n_stop_kinds` (DISTINCT stopwords present) ≥ minStopKinds
    *   - `top2_ratio` (most frequent bigram / all bigrams, the
    *     [[MapOps.repetitionStats]] grain) ≤ maxTop2Ratio
    *
    * Emits every document with its signals and `kept` — the signals are
    * the product (a curation pipeline routes and audits on them), the
    * flag is the default policy. Page-level twin of the line-level
    * [[c4LineClean]]; compose them in either order. Scale: one shuffle
    * (the bigram aggregation); everything else is per-row array
    * expressions inside codegen. */
  def gopherSignals(df: DataFrame, idCol: Column, textCol: Column,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopKinds: Int = 2,
      maxTop2Ratio: Double = 0.2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"bad word bounds: [$minWords, $maxWords]")
    val stoplist = array(Seq("the", "a", "of", "and", "to", "in", "is")
      .map(lit): _*)
    val toks = graft.functions.TextFunctions.tokens(textCol)
    val rep2 = MapOps.repetitionStats(df, idCol, textCol, n = 2)
      .select(col("doc_id").as("id"), col("rep_ratio").as("top2_ratio"))
    val sig = df
      .select(idCol.as("id"), toks.as("_t"))
      .withColumn("n_words", size(col("_t")).cast("long"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0, round(
          aggregate(col("_t"), lit(0L), (acc, t) => acc + length(t))
            .cast("double") / col("n_words"), 6)).otherwise(0.0))
      .withColumn("alpha_frac",
        when(col("n_words") > 0, round(
          size(filter(col("_t"), t => t.rlike("[A-Za-z]")))
            .cast("double") / col("n_words"), 6)).otherwise(0.0))
      .withColumn("n_stop_kinds",
        size(array_intersect(array_distinct(col("_t")), stoplist))
          .cast("long"))
    sig.join(rep2, Seq("id"), "left")
      .withColumn("top2_ratio", coalesce(col("top2_ratio"), lit(0.0)))
      .withColumn("kept",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("alpha_frac") >= minAlphaFrac &&
          col("n_stop_kinds") >= minStopKinds &&
          col("top2_ratio") <= maxTop2Ratio)
      .select(col("id"), col("n_words"), col("mean_word_len"),
        col("alpha_frac"), col("n_stop_kinds"), col("top2_ratio"),
        col("kept"))
  }

  /** C4-style line-level corpus cleaning (public precedent: the C4
    * pipeline of the T5 paper, Raffel et al. 2020 §2.2 — the standard
    * first-pass web-text filter every large LM corpus since has copied
    * or tuned): per LINE of each document, keep only lines that
    *
    *   1. end in a terminal punctuation mark (`.` `!` `?` `"`),
    *   2. carry at least `minWords` whitespace-separated words, and
    *   3. do not mention "javascript" (the boilerplate tell for
    *      scraped script warnings),
    *
    * then drop the whole PAGE when it contains "lorem ipsum" (template
    * placeholder) or `{` (leaked code/markup), or when fewer than
    * `minLines` lines survive. Emits one row per RETAINED document:
    * `(id, n_lines, clean_text)` with the kept lines re-joined by
    * newline, so the exact excision boundaries are hash-checkable.
    *
    * Every predicate is deliberately regex-free (last-character test,
    * split-on-space word count, lowercase substring containment) so an
    * independent engine replays it with identical semantics — the same
    * portability discipline as [[graft.operators.DedupOps
    * .contentDefinedChunks]]. Scale: pure per-row array expressions
    * inside whole-stage codegen — no shuffle, no UDF, no state; the verb
    * streams at scan speed on 100 TB and composes upstream of the dedup
    * / packing stages ([[packSequences]]). */
  def c4LineClean(df: DataFrame, idCol: Column, textCol: Column,
      minWords: Int = 3, minLines: Int = 3): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1: $minWords")
    require(minLines >= 1, s"minLines must be >= 1: $minLines")
    val lines = split(textCol, "\n")
    val keptLines = filter(lines, l =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(filter(split(l, " "), w => w =!= "")) >= minWords &&
        !contains(lower(l), lit("javascript")))
    val pageOk = !contains(lower(textCol), lit("lorem ipsum")) &&
      !contains(textCol, lit("{"))
    df.select(idCol.as("id"), keptLines.as("_kept"), pageOk.as("_ok"))
      .filter(col("_ok") && size(col("_kept")) >= minLines)
      .select(col("id"), size(col("_kept")).cast("long").as("n_lines"),
        array_join(col("_kept"), "\n").as("clean_text"))
  }
}
