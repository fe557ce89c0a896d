package graft.operators

import graft.functions.{HashExpressions, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators: chunking documents into
  * fixed-token windows, repetition-based quality filtering, and eval-set
  * decontamination. All three are pure column pipelines (codegen'd
  * built-ins + the native shingle expression) — no UDFs on the hot path,
  * no driver materialization, shuffles only where the semantics demand a
  * join/groupBy.
  */
object CorpusPrep {

  /** Split each document's token stream into windows of `chunkSize` tokens
    * advancing by `chunkSize - overlap` — the sequence-prep step before
    * packing examples into a training context window. Pure narrow plan:
    * tokenize, explode the window starts, slice. An empty doc yields one
    * empty chunk so every input id stays represented downstream.
    *
    * A window only starts while unseen tokens remain (start < size -
    * overlap): a start inside the previous chunk's tail would emit a chunk
    * that is a strict SUBSET of its predecessor — verbatim duplication
    * manufactured by the chunker itself, exactly what the dedup stages
    * downstream exist to remove.
    *
    * Output: (doc_id, chunk_idx, n_tokens, chunk_text). */
  def chunk(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      chunkSize: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(overlap < chunkSize, s"overlap $overlap must be < chunkSize $chunkSize")
    val stride = chunkSize - overlap
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          greatest(size(col("toks")) - overlap - 1, lit(0)), lit(stride)))
          .as("start"))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_idx"),
        least(lit(chunkSize), greatest(size(col("toks")) - col("start"), lit(0)))
          .cast("int").as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkSize))).as("chunk_text"))
  }

  /** Repetition statistics per document (the Gopher-style repetition
    * filters, Rae et al. 2021 §A1.1): fraction of duplicated n-grams and
    * the most-frequent-token share. Both are per-row higher-order-function
    * pipelines — shuffle-free at any scale.
    *
    * `dup_ngram_ratio` = 1 - distinct_ngrams / total_ngrams;
    * `top_tok_ratio`  = max token multiplicity / token count;
    * `flagged`        = dup_ngram_ratio > dupMax OR top_tok_ratio > topMax.
    *
    * Output: (doc_id, dup_ngram_ratio, top_tok_ratio, flagged). */
  def repetitionStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      dupMax: Double = 0.18,
      topMax: Double = 0.20): DataFrame = {
    val base = KnnExact.spreadSmall(
      docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("__text")))
    base
      .withColumn("toks", TextFunctions.tokens(col("__text")))
      .withColumn("total_ngrams", greatest(size(col("toks")) - (n - 1), lit(1)))
      .withColumn("distinct_ngrams", size(HashExpressions.ngramShingles(col("__text"), n)))
      .withColumn("dup_ngram_ratio",
        round(lit(1.0) - col("distinct_ngrams").cast("double") / col("total_ngrams"), 6))
      .withColumn("top_tok_ratio", round(
        when(size(col("toks")) === 0, 0.0).otherwise(
          array_max(transform(array_distinct(col("toks")),
            t => size(filter(col("toks"), x => x === t)))).cast("double") / size(col("toks"))),
        6))
      .select(col("doc_id"), col("dup_ngram_ratio"), col("top_tok_ratio"),
        (col("dup_ngram_ratio") > dupMax || col("top_tok_ratio") > topMax).as("flagged"))
  }

  /** Cross-document shared-span detection — the distributed re-expression of
    * exact-substring training-data dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": remove text spans that
    * appear verbatim elsewhere in the corpus). Where the paper builds a
    * suffix array, the scale-out form hash-groups every n-token window:
    *
    *   1. (doc_id, pos, h): positioned 60-bit window hashes — one narrow
    *      pass (native expression, no UDF), corpus-tokens-sized. Exploded
    *      with the OUTER generator + a cheap post-filter: the inner form
    *      makes Catalyst infer `size(hashes) > 0` and evaluate the
    *      md5-heavy expression three times per row (filter x2 + project).
    *   2. flag duplicated windows entirely inside ONE h-partitioned window
    *      pass (no groupBy + join-back: a self-join diamond would read and
    *      hash the corpus twice): distinct-doc count = max over h of
    *      dense_rank ordered by doc_id; canonical = min (doc_id, pos) over
    *      h. A window is removable when its hash occurs in >= minDocs
    *      distinct docs and (with `keepFirst`) it is not the canonical
    *      occurrence — keeping one copy of every shared passage, the
    *      paper's remove-all-but-one semantics. All three are streaming
    *      sort-based aggregates sharing one exchange + one sort: a viral
    *      passage duplicated across millions of docs costs one big sorted
    *      partition, never memory.
    *   3. islands per doc: overlapping/adjacent duplicated windows
    *      (start gap <= n) merge into maximal spans via one doc-partitioned
    *      window pass — per-doc state bounded by doc length.
    *
    * Two key-shuffles total (by h, by doc_id) over a single corpus read; no
    * driver materialization; survives 100 TB because nothing is ever
    * quadratic in docs or corpus size. False positives require a 60-bit md5
    * collision AND island adjacency — negligible, and conservative only (a
    * span is dropped, not invented, per Lee et al.'s own hash-dedup
    * variant).
    *
    * Output: (doc_id, span_start, span_end, n_windows) — token positions,
    * 0-based inclusive; span text = tokens[span_start .. span_end]. */
  def sharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      minDocs: Int = 2,
      keepFirst: Boolean = true): DataFrame = {
    require(n >= 1, s"window size n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-doc duplication), got $minDocs")
    import org.apache.spark.sql.expressions.Window
    val w = docs
      .select(col(idCol).cast("long").as("doc_id"),
        HashExpressions.ngramWindowHashes(col(textCol), n).as("hs"))
      .select(col("doc_id"), posexplode_outer(col("hs")).as(Seq("pos", "h")))
      .filter(col("h").isNotNull) // outer rows of sub-n-token docs
    val byH = Window.partitionBy("h")
    val byHDoc = Window.partitionBy("h").orderBy("doc_id")
    val removable = w
      .withColumn("dr", dense_rank().over(byHDoc))
      .withColumn("nd", max(col("dr")).over(byH))
      .withColumn("frst", min(struct(col("doc_id"), col("pos"))).over(byH))
      .filter(col("nd") >= minDocs &&
        (if (keepFirst) !(struct(col("doc_id"), col("pos")) === col("frst"))
         else lit(true)))
      .select("doc_id", "pos")
    val win = Window.partitionBy("doc_id").orderBy("pos")
    removable
      .withColumn("prev", lag(col("pos"), 1).over(win))
      .withColumn("newisl",
        when(col("prev").isNull || col("pos") - col("prev") > n, 1).otherwise(0))
      .withColumn("isl", sum(col("newisl")).over(
        win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + (n - 1)).cast("int").as("span_end"),
        count(lit(1)).cast("int").as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Excise listed token spans from each document's text (the apply step of
    * sharedSpans: pass its output here to materialize the deduplicated
    * corpus). Spans are collected per doc (bounded by doc length) and the
    * token stream filtered positionally — a broadcast-free equi-join plus
    * narrow higher-order-function work; docs with no spans pass through
    * unchanged. Output: (doc_id, clean_text, n_removed_tokens). */
  def removeSpans(
      docs: DataFrame,
      spans: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("keep",
        when(col("spans").isNull, col("toks")).otherwise(
          // positions are 0-based, matching sharedSpans' span indices
          transform(
            filter(
              transform(col("toks"), (t, i) => struct(t.as("t"), i.as("i")))
                .cast("array<struct<t:string,i:int>>"),
              s => !exists(col("spans"),
                sp => s.getField("i").between(
                  sp.getField("span_start"), sp.getField("span_end")))),
            s => s.getField("t"))))
      .select(col("doc_id"),
        concat_ws(" ", col("keep")).as("clean_text"),
        (size(col("toks")) - size(col("keep"))).cast("int").as("n_removed_tokens"))
  }

  /** Deterministic domain-mixture sampling: select documents so each
    * domain's token mass approaches `weight/sum(weights) * totalTokens` —
    * the data-mixing step that turns a curated pool into a training mix
    * with prescribed domain proportions. Selection is by deterministic
    * per-doc uniform u = md5(doc_id)/2^60 < rate, where
    * rate = domain budget / domain token total: fully parallel (no
    * per-domain sequential prefix scan — THE property that matters when one
    * domain holds billions of docs), shuffle cost = one tiny per-domain
    * aggregate broadcast back. Budgets are hit in expectation with
    * concentration ~ O(1/sqrt(docs per domain)); domains missing from
    * `weights` get `defaultWeight` (0 = excluded, the exhaustive-mixture
    * convention). Rates cap at 1.0 — a domain smaller than its budget is
    * taken whole (callers wanting oversampling replicate upstream).
    *
    * Output: (doc_id, domain, n_toks) — the selected mix. */
  def mixtureSample(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      domainCol: String,
      weights: Map[String, Double],
      totalTokens: Long,
      defaultWeight: Double = 0.0): DataFrame = {
    require(weights.values.forall(_ >= 0) && defaultWeight >= 0, "weights must be >= 0")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select(
      col(idCol).cast("long").as("doc_id"),
      col(domainCol).as("domain"),
      TextFunctions.tokenCount(col(textCol)).as("n_toks"),
      (conv(substring(md5(col(idCol).cast("long").cast("string")), 1, 15), 16, 10)
        .cast("double") / lit(1152921504606846976.0 /* 2^60 */)).as("u"))
    // the weight normalizer sums over domains PRESENT in the data —
    // including defaultWeight once per unlisted present domain, and
    // excluding listed-but-absent ones — so the selected token mass
    // approaches totalTokens, not a multiple of it. Per-domain totals are
    // broadcast-sized by assumption (they were already), so the rate table
    // is computed exactly on the driver with the same double-op order the
    // oracle uses: w * T / sumW / domain_toks.
    val totals = base.groupBy("domain").agg(sum(col("n_toks")).as("domain_toks"))
      .collect().map(r => (String.valueOf(r.get(0)), r.getLong(1)))
    val sumW0 = totals.map { case (d, _) => weights.getOrElse(d, defaultWeight) }.sum
    val sumW = if (sumW0 == 0) 1.0 else sumW0
    val rates = totals.map { case (d, toks) =>
      val w = weights.getOrElse(d, defaultWeight)
      (d, math.min(1.0, w * totalTokens.toDouble / sumW / toks.toDouble))
    }.toSeq.toDF("domain", "rate")
    base.join(broadcast(rates), "domain")
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("domain"), col("n_toks"))
  }

  /** Sequence packing: assign documents (or chunks) to fixed-capacity
    * training examples so each example's token total stays <= capacity
    * while wasting as little context as possible — the batch-prep step
    * between chunking and tokenized training batches.
    *
    * Distribution shape: a GLOBAL optimal packing is a bin-packing
    * instance (NP-hard, inherently sequential), so the scale-out form
    * packs each partition independently with first-fit-decreasing over a
    * BOUNDED open-bin window: when more than `openWindow` bins are open,
    * the fullest one is closed. Closing never touches an under-half bin
    * (at most one exists at any time — the first-fit property — and with
    * `openWindow >= 2` the fullest of the others is >= half), so every
    * partition still leaves at most ONE bin under half capacity and the
    * global overhead stays bounded by `numPartitions` bins over
    * optimal-halving; the window caps per-doc scan work at O(openWindow).
    * Per-task MEMORY is O(partition rows), not O(openWindow): the FFD sort
    * materializes the partition's (id, n_toks) pairs plus a same-sized
    * output buffer — the window bounds only the open-bin scan. Size
    * partitions via the `partitions` knob so row counts fit task memory.
    * No shuffle beyond the initial spread.
    *
    * Docs longer than `capacity` get a bin of their own, flagged
    * `oversize`, and that bin never enters the open list — nothing (not
    * even a zero-token doc) can join it. Callers chunk upstream — see
    * [[chunk]] — so oversize is the escape hatch, not the plan.
    *
    * Output: (doc_id, n_toks, bin_id, oversize) — bin_id globally unique
    * (partitionId << 40 | local bin index: 8M partitions x 1T bins). */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      capacity: Int,
      partitions: Int = 0,
      openWindow: Int = 256): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    require(openWindow >= 2, s"openWindow must be >= 2, got $openWindow")
    val spark = docs.sparkSession
    import spark.implicits._
    val base0 = docs.select(col(idCol).cast("long").as("doc_id"),
      TextFunctions.tokenCount(col(textCol)).as("n_toks"))
    val base = if (partitions > 0) base0.repartition(partitions, col("doc_id")) else base0
    base.as[(Long, Int)].mapPartitions { it =>
      val part = org.apache.spark.TaskContext.getPartitionId()
      def mkId(b: Int): Long = part.toLong << 40 | b.toLong
      val rows = it.toArray.sortBy { case (id, n) => (-n, id) } // FFD order
      var nBins = 0
      val open = scala.collection.mutable.ArrayBuffer.empty[Array[Int]] // [bin, fill]
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Boolean)](rows.length)
      for ((id, n) <- rows) {
        if (n > capacity) {
          out += ((id, n, mkId(nBins), true)) // own bin, never opened
          nBins += 1
        } else {
          var i = 0
          while (i < open.length && open(i)(1) + n > capacity) i += 1
          if (i == open.length) { open += Array(nBins, 0); nBins += 1 }
          open(i)(1) += n
          out += ((id, n, mkId(open(i)(0)), false))
          if (open.length > openWindow) {
            var fi = 0
            var j = 1
            while (j < open.length) { if (open(j)(1) > open(fi)(1)) fi = j; j += 1 }
            open.remove(fi) // fullest bin closes; never the under-half one
          }
        }
      }
      out.iterator
    }.toDF("doc_id", "n_toks", "bin_id", "oversize")
  }

  /** Deterministic hash-based train/val/test split: u = md5(salt:id)/2^60
    * lands each document in the bucket whose cumulative-fraction interval
    * contains it. The hash (not random()) is what makes the split a
    * DATASET PROPERTY rather than a run property: re-running over a grown
    * corpus never moves an existing document between splits, so eval
    * contamination cannot creep in across ingest batches. Shuffle-free and
    * embarrassingly parallel; per-stratum proportions hold in expectation
    * with concentration ~ O(1/sqrt(stratum size)), which at training-corpus
    * scale is exact for every stratum that matters.
    *
    * The LAST split takes the residual interval (an `otherwise`), so
    * fractions that sum to 1 in decimal need not sum to 1 in binary.
    * Output: (doc_id, split). */
  def hashSplit(
      docs: DataFrame,
      idCol: String,
      fractions: Seq[(String, Double)],
      salt: String = "split"): DataFrame = {
    require(fractions.size >= 2, "need at least two splits")
    require(fractions.forall(_._2 > 0), "fractions must be > 0")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val u = u60(saltedKey(col(idCol), salt))
    val bounds = fractions.init.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val chain = fractions.init.zip(bounds).foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (None, ((name, _), b)) => Some(when(u < b, name))
      case (Some(c), ((name, _), b)) => Some(c.when(u < b, name))
    }
    docs.select(col(idCol).cast("long").as("doc_id"),
      chain.get.otherwise(fractions.last._1).as("split"))
  }

  /** PII patterns shared by [[redactPii]] and its oracle twin: kept inside
    * the Java-regex/RE2 common subset (char classes, bounded repetition,
    * `\b`) so Spark and DuckDB compile them identically. Text is expected
    * lowercased (the corpus convention); emails/IPs/phones in it are
    * synthetic or already public by the time this runs — redaction is the
    * C4/RefinedWeb-style hygiene pass, not a compliance guarantee. */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and NANP-style phone numbers with
    * typed placeholders, with per-pattern match counts (counted on the RAW
    * text, independently per pattern). Pure narrow plan — three chained
    * codegen'd `regexp_replace`s + three `regexp_count`s, no shuffle, no
    * UDF: the shape that sweeps a 100 TB corpus at IO speed. Replacement
    * order is email -> IP -> phone (an IP inside an email is redacted as
    * part of the email).
    *
    * Output: (doc_id, clean_text, n_emails, n_ips, n_phones). */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(t, emailRe, "<EMAIL>"),
          ipv4Re, "<IP>"),
        phoneRe, "<PHONE>").as("clean_text"),
      regexp_count(t, lit(emailRe)).cast("int").as("n_emails"),
      regexp_count(t, lit(ipv4Re)).cast("int").as("n_ips"),
      regexp_count(t, lit(phoneRe)).cast("int").as("n_phones"))
  }

  /** Deterministic corpus shuffle into training shards: every document
    * gets a pseudo-random but REPRODUCIBLE position — shard by hash,
    * position by md5-key order within the shard — so the training data
    * order is a pure function of (corpus, salt), not of cluster layout or
    * run timing. This is the write-order step before materializing
    * training shards: `.repartition(col("shard")).sortWithinPartitions`
    * (or write partitioned by shard, pos-sorted) yields files a trainer
    * streams in a fixed global order.
    *
    * Scale shape: one shuffle on `shard`; each shard sorts independently,
    * so pick nShards to size shards to a task (the same knob that sizes
    * output files). No global sort, no sequential pass.
    *
    * Output: (doc_id, shard, pos) — pos is 1-based within shard, ordered
    * by (md5 key, doc_id). */
  def shuffleShards(
      docs: DataFrame,
      idCol: String,
      nShards: Int,
      salt: String = "shuffle"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))
    docs
      .select(col(idCol).cast("long").as("doc_id"), saltedKey(col(idCol), salt).as("k"))
      .withColumn("shard",
        pmod(key60(col("k")), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** The ONE canonical salted hash key: md5("salt:id"). Its DuckDB twin is
    * `md5('salt:' || CAST(id AS VARCHAR))` — every oracle that consumes a
    * derived value mirrors these helpers, so keep them in lockstep. */
  private def saltedKey(id: org.apache.spark.sql.Column, salt: String) =
    md5(concat_ws(":", lit(salt), id.cast("long").cast("string")))

  /** First 60 bits of an md5 hex key as a non-negative long. */
  private def key60(key: org.apache.spark.sql.Column) =
    conv(substring(key, 1, 15), 16, 10).cast("long")

  /** Deterministic uniform in [0, 1): key60 / 2^60. */
  private def u60(key: org.apache.spark.sql.Column) =
    key60(key).cast("double") / lit(1152921504606846976.0 /* 2^60 */)

  /** Per-document cross-entropy under an add-k-smoothed bigram language
    * model trained on `ref` — the distributed re-expression of the
    * CCNet-style LM quality filter (Wenzek et al. 2020: score web docs
    * with a KenLM n-gram model, keep the low-perplexity tail). Where
    * CCNet queries an in-process KenLM binary, the scale-out form IS the
    * corpus: bigram/context counts are DataFrames, scoring is an
    * equi-join, and the per-doc log-prob sum is a FIXED-POINT integer sum
    * (each ln P rounds to a 1e-12-granular long; long addition is
    * associative, so the aggregation is partial/map-side AND bit-
    * deterministic under any partitioning — never a float `sum()`, whose
    * combine order would make the score run-dependent). The 5e-13 absolute
    * quantization on the mean is invisible at the 6-decimal output.
    *
    *   P(w2 | w1) = (C(w1 w2) + k) / (C(w1 ·) + k·V)
    *   xent(doc)  = -(1/n) · Σ ln P — lower = more like `ref`.
    *
    * Counts shuffle once each. Scoring routes each occurrence through a
    * BROADCAST lookup when it can — the `headBigrams` most frequent
    * bigrams (most of the token mass on Zipfian text) and the vocab-sized
    * context table — so only rare-tail/unseen occurrences pay the
    * corpus-scale shuffled join. Results are exact regardless of routing.
    * Docs with < 2 tokens carry n_bigrams = 0 and xent = 0.
    * Output: (doc_id, n_bigrams, xent).
    *
    * RESOURCE NOTE: the trained count model `persist()`s (executor-
    * resident, model-sized; plus the vocab-sized per-context derivative)
    * and stays cached for the session — each call holds one model in the
    * block manager so repeated scoring actions don't re-train. Long-lived sessions scoring against many DIFFERENT
    * reference corpora should bound that with
    * `spark.catalog.clearCache()` (or recreate the session) between
    * models; there is deliberately no auto-unpersist because the returned
    * plan stays lazy and the caller decides when the last action ran. */
  def lmCrossEntropy(
      docs: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 0.5,
      /** Head size target for the OPT-IN broadcast-head split (see
        * `headCoverage`): bigrams above a count threshold T (chosen from
        * the count histogram so the head stays <= this many rows) score
        * map-side; only tail occurrences travel through the shuffled model
        * join. The numbers are EXACT either way — routing only. 0 disables
        * the split regardless of `headCoverage`. */
      headBigrams: Int = 1 << 18,
      /** Broadcast the context-count table (one row per distinct first
        * token, i.e. vocab-sized — tens of MB even for multi-million-token
        * vocabularies), turning the second corpus-scale shuffled join into
        * a map-side lookup. Disable for degenerate corpora whose vocabulary
        * is corpus-sized (e.g. unique-token ids). */
      broadcastContexts: Boolean = true,
      /** OPT-IN switch for the broadcast-head split: supply the corpus's
        * known head occurrence-coverage; >= 0.5 engages the split. The
        * DEFAULT (None) is the single shuffled join, and the call is then
        * FULLY LAZY — constructing the scoring plan triggers no Spark jobs
        * (the model tables `persist()` and materialize at the first
        * action). Measured at 1M docs x 60 tokens on local[32] (zipf-ish,
        * head coverage 0.73): plain join 34s, head-split fork 75s — the
        * fork's second evaluation of the doc stream plus broadcast-probe
        * cost exceeds the join shuffle it avoids on a single node, so the
        * split is for network-bound clusters where shuffle bytes dominate,
        * and the caller must assert it. Routing never changes the
        * numbers (spec-gated bit-equality between routes). */
      headCoverage: Option[Double] = None,
      /** Explicit head threshold: bigrams with count >= this are the
        * broadcast head. Supplied together with `headCoverage` it makes the
        * split route fully lazy; when None the threshold derives from the
        * count histogram (targeting <= `headBigrams` head rows). */
      headMinCount: Option[Long] = None): DataFrame = {
    require(addK > 0, s"addK must be > 0, got $addK")
    // bigram identity travels as 60-bit md5 keys (the repo's hashed-
    // shingle convention): the count tables and the scoring join carry one
    // long per key instead of two strings — the shuffle/compare shape that
    // matters when the model is vocabulary-scale. The oracle mirrors the
    // same md5, so even collisions (≈ |bigrams|²/2^61) are consistent.
    // The REF side (withMarkers) emits, per doc with n >= 1 tokens, n rows:
    // n-1 bigram rows plus ONE trailing marker (w1 = final token, w2 =
    // null, so h2 = null). The marker never becomes a bigram count and
    // never matches the scoring join (null keys don't equi-join); its job
    // is making the model's distinct-h1 set cover EVERY token — including
    // tokens that only ever appear doc-finally — so the vocab size derives
    // from the persisted model instead of a third tokenize pass over the
    // corpus (the r10 decomposition's one avoidable pass). The DOC side
    // runs marker-free: it needs nothing from the markers, and the scoring
    // pass is the per-action hot path. Two codegen-shape constraints,
    // measured at 1M x 60 (NOTES_r10 §3, 2026-08-15): the bigram
    // lambda stays two UNCONDITIONAL element_at calls (a per-element
    // CaseWhen in the lambda cost +40% on the whole route), so the marker
    // rides a concat'd 1-element array; and only the ref pass pays that
    // concat.
    def bigramsOf(df: DataFrame, withMarkers: Boolean): DataFrame =
      lmBigrams(df, idCol, textCol, withMarkers)
    // Self-scoring (docs sameResult ref — the quality-scoring pipeline
    // case) deliberately does NOT share/persist one bigram table between
    // the model and the stream: measured at 1M x 60 flat
    // (NOTES_r10 §3, 2026-08-14) the first action is unchanged
    // within noise (46.9s vs 39.8-44.9s — the 59M-row cache write costs
    // what the saved tokenize pass earns) and only REPEAT actions on the
    // same plan improve (35.1s vs ~45s). At cluster scale it's actively
    // wrong: caching a corpus-scale bigram table trades a cheap recompute
    // for MEMORY_AND_DISK spill of ~the corpus itself.
    val refBi = bigramsOf(ref, withMarkers = true).filter(col("h1").isNotNull)
    // the count model materializes ONCE (persist: executor-resident, model-
    // sized): it feeds the scoring join, the context derivation, AND the
    // head-coverage probe — without it each consumer re-tokenizes the whole
    // reference corpus. persist() (not localCheckpoint) keeps the call LAZY
    // when `headCoverage` is supplied: materialization rides the first
    // action instead of plan construction.
    val cb = refBi.groupBy("h1", "h2").agg(count(lit(1)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the BIGRAM model excludes the trailing markers (h2 null): they are
    // vocab bookkeeping, not context occurrences — C(w1 ·) must count w1
    // only as a bigram-first. Filter preserves cb's groupBy partitioning,
    // so the scoring join still reuses the model's exchange.
    val cbModel = cb.filter(col("h2").isNotNull)
    // ONE h1-aggregation yields BOTH model derivatives: context counts
    // (sum of non-marker bigram counts per first token) AND the vocab (one
    // row per distinct h1 over the FULL model, markers included — every
    // token appears as some bigram's w1 or as its doc's trailing marker,
    // so row count = distinct-token count over the same 60-bit hashes the
    // model uses; the twin oracle counts DISTINCT md5-60bit(token)
    // identically). Persisted (vocab-sized, ~the broadcast cu table):
    // r11's separate countDistinct(h1) was a second multi-million-row
    // aggregation over the model that rode the FIRST action's critical
    // path (+6s at 1M x 60, NOTES_r11 §3) and re-ran on every action;
    // deriving vv as count(*) of this cached frame makes first-action
    // vocab cost ~a cached count, and hot actions drop the re-aggregation
    // too. cu values and vv are bit-identical to the previous derivation
    // (marker-only tokens carry a null context sum and are filtered from
    // cu; they still count toward vv).
    val cuAll = cb.groupBy("h1")
      .agg(sum(when(col("h2").isNotNull, col("cb"))).as("cu"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cu = cuAll.filter(col("cu").isNotNull)
    val vocab = cuAll.agg(count(lit(1)).cast("double").as("vv"))
    val docBi = bigramsOf(docs, withMarkers = false)
    lmScoreFrom(docBi, cbModel, cu, _.crossJoin(broadcast(vocab)), addK,
      headBigrams, broadcastContexts, headCoverage, headMinCount)
  }

  /** Hashed bigram stream of a corpus (shared by [[lmCrossEntropy]],
    * [[lmTrain]], [[lmScore]]): per doc, one row per bigram (h1 = 60-bit
    * md5 of w1, h2 = 60-bit md5 of "w1 w2") plus — withMarkers — ONE
    * trailing marker row (w1 = final token, h2 null) whose job is making
    * the model's distinct-h1 set cover EVERY token. See the codegen-shape
    * notes at the [[lmCrossEntropy]] call site. */
  private def lmBigrams(
      df: DataFrame, idCol: String, textCol: String,
      withMarkers: Boolean): DataFrame = {
    val bigrams = transform(sequence(lit(0), size(col("toks")) - 2),
      i => struct(element_at(col("toks"), i + 1).as("w1"),
        element_at(col("toks"), i + 2).as("w2")))
    val marker = array(struct(
      element_at(col("toks"), size(col("toks"))).as("w1"),
      lit(null).cast("string").as("w2")))
    val bs =
      if (!withMarkers)
        when(size(col("toks")) < 2,
          array().cast("array<struct<w1:string,w2:string>>"))
          .otherwise(bigrams)
      else
        when(size(col("toks")) < 1,
          array().cast("array<struct<w1:string,w2:string>>"))
          .when(size(col("toks")) === 1, marker)
          .otherwise(concat(bigrams, marker))
    df.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), bs.as("bs"))
      .select(col("doc_id"), explode_outer(col("bs")).as("b"))
      .select(col("doc_id"),
        key60(md5(col("b.w1"))).as("h1"),
        // concat_ws SKIPS nulls (returning "w1", not null), so marker
        // rows (and the sub-2-token docs' outer row) must null h2
        // explicitly — h2 is the bigram-count key AND the per-doc
        // bigram counter
        key60(md5(when(col("b.w2").isNotNull,
          concat_ws(" ", col("b.w1"), col("b.w2"))))).as("h2"))
  }

  /** Scoring half shared by [[lmCrossEntropy]] (lazy inline model: `addVv`
    * crossJoins the broadcast 1-row vocab) and [[lmScore]] (pre-trained
    * model: `addVv` attaches the literal train-time scalar). Everything
    * else — fixed-point lp, head/tail routing, both join shapes — is
    * identical, so the two entry points cannot drift. */
  private def lmScoreFrom(
      docBi: DataFrame,
      cbModel: DataFrame,
      cu: DataFrame,
      addVv: DataFrame => DataFrame,
      addK: Double,
      headBigrams: Int,
      broadcastContexts: Boolean,
      headCoverage: Option[Double],
      headMinCount: Option[Long]): DataFrame = {
    // ln P quantized to a 1e-12 fixed-point long: integer sums are
    // associative, so per-doc aggregation is map-side partial AND exactly
    // deterministic; |lp| <= ~50, so |lpf| <= 5e13 and a doc needs > 1.8e5
    // tokens per-row average to approach Long overflow (docs that long
    // should be chunked far upstream). The DuckDB twin applies the
    // IDENTICAL round(ln(..) * 1e12) expression.
    val SCALE = 1e12
    // floor(x + 0.5), NOT round(x, 0): Spark's Round on doubles goes
    // through BigDecimal per row (~500ns) — at 60M bigrams that alone is
    // ~30s; floor stays inside whole-stage codegen. The DuckDB twin uses
    // the IDENTICAL floor(x + 0.5) expression, so ties (measure-zero on
    // md5-derived data) agree too.
    def lpFixed(cbCol: Column, cuCol: Column): Column =
      floor(log((coalesce(cbCol, lit(0L)) + addK) /
        (coalesce(cuCol, lit(0L)) + lit(addK) * col("vv"))) * SCALE + lit(0.5))
        .cast("long")
    def finish(perDoc: DataFrame): DataFrame = perDoc
      .select(col("doc_id"), col("n_bigrams").cast("int").as("n_bigrams"),
        when(col("n_bigrams") === 0, lit(0.0)).otherwise(round(
          -(col("s").cast("double") / SCALE) / col("n_bigrams"), 6)).as("xent"))
    // bigram-count lookup, head/tail split: the head rides a broadcast and
    // resolves map-side; misses (rare tail + unseen) are the only
    // occurrences that travel through the shuffled model join. Head
    // selection is THRESHOLD-based — every bigram with count >= T — not
    // top-K: orderBy+limit(262144) plans a TakeOrdered that funnels every
    // partition's top-K to the driver (~tens of seconds at a multi-million-
    // row model), while the count HISTOGRAM is tiny (distinct count
    // values) and one collect of it yields both T and the exact occurrence
    // coverage. ADAPTIVE: the split pays when the head concentrates
    // occurrence mass (Zipfian text); below 50% coverage the single
    // shuffled join wins. Supplying headCoverage (+ headMinCount) skips the
    // probe for a fully lazy plan.
    val wantSplit = headBigrams > 0 && broadcastContexts &&
      headCoverage.exists(_ >= 0.5)
    val headThreshold: Option[Long] =
      if (!wantSplit) None
      else headMinCount.orElse {
        // derive T from the count histogram (tiny: one row per distinct
        // count value) so the head stays <= headBigrams rows; the one
        // call-time job on the split path — pass headMinCount to avoid it
        val hist = cbModel.groupBy("cb").agg(count(lit(1)).as("n")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
        var kept = 0L; var t = Long.MaxValue; var i = 0
        while (i < hist.length && kept + hist(i)._2 <= headBigrams) {
          kept += hist(i)._2; t = hist(i)._1; i += 1
        }
        if (t == Long.MaxValue) None else Some(t)
      }
    val headOpt: Option[DataFrame] =
      // <= headBigrams rows by construction of T; deterministic (pure
      // count predicate, no tiebreak needed)
      headThreshold.map(t => cbModel.filter(col("cb") >= t))
    def withCuOf(df: DataFrame): DataFrame =
      if (broadcastContexts) df.join(broadcast(cu), Seq("h1"), "left")
      else df.join(cu.hint("shuffle_hash"), Seq("h1"), "left")
    if (headOpt.isDefined) {
      val head = headOpt.get
      val tagged = addVv(docBi
        .join(broadcast(head.withColumnRenamed("cb", "cb_head")), Seq("h1", "h2"), "left")
        .join(broadcast(cu), Seq("h1"), "left"))
      // fork: each branch is a pure sum/count HashAggregate with map-side
      // partials (the doc stream evaluates once per branch — two tokenize
      // passes). Carrying per-doc miss-key LISTS through one linear plan
      // was measured 10x worse: collect_list rides ObjectHashAggregate,
      // whose sort-based fallback (>128 groups) re-sorts the whole stream.
      // Head hits never touch the shuffled model join — only the rare tail
      // does, which is the point of the split at cluster scale.
      val hits = tagged.filter(col("cb_head").isNotNull)
        .groupBy("doc_id").agg(
          sum(lpFixed(col("cb_head"), col("cu"))).as("s_hit"),
          count(lit(1)).as("n_hit"))
      val misses = tagged.filter(col("cb_head").isNull)
        .drop("cb_head")
        .join(cbModel.hint("shuffle_hash"), Seq("h1", "h2"), "left")
        .withColumn("lpf", when(col("h2").isNotNull, lpFixed(col("cb"), col("cu"))))
        .groupBy("doc_id").agg(
          coalesce(sum(col("lpf")), lit(0L)).as("s_miss"),
          count(col("h2")).as("n_miss"))
      val perDoc = hits.join(misses, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(col("s_hit"), lit(0L)) + coalesce(col("s_miss"), lit(0L))).as("s"),
          (coalesce(col("n_hit"), lit(0L)) + coalesce(col("n_miss"), lit(0L)))
            .as("n_bigrams"))
      finish(perDoc)
    } else {
      // default route: ONE shuffled join of the doc stream against the
      // count model on (h1, h2), then broadcast context lookup + the
      // per-occurrence lpFixed. Two properties make this the fastest
      // formulation measured (and both survive at cluster scale):
      //   - cb's groupBy(h1, h2) output partitioning satisfies the join's
      //     requirement EXACTLY, so the model side reuses its exchange and
      //     never reshuffles — only the doc stream moves;
      //   - the doc stream's map side has NO broadcast dependency on the
      //     model, so the two corpus passes (train, score) pipeline as
      //     independent stages instead of serializing.
      // A "fused" variant that precomputed per-model-row scores and joined
      // on h2 alone was measured 3.5-4x SLOWER at 1M docs x 60 tokens on
      // local[32] (train+score 9.8-10.3s vs 2.9s flat, 9.9-10.1s vs 2.9s
      // zipf; hot score 8.4-8.9s vs 2.1-2.3s — interleaved A/B,
      // NOTES_r10 §3, 2026-08-14): the h2-only join forced a
      // model-side reshuffle where (h1, h2) reuses the exchange, and its
      // context-score broadcast chained cb -> cu -> broadcast onto the doc
      // stream's map path, serializing what pipelines here. The
      // per-occurrence log it avoided is codegen'd and ~free.
      val scored = addVv(withCuOf(docBi.join(cbModel.hint("shuffle_hash"), Seq("h1", "h2"), "left")))
        .withColumn("lpf", when(col("h2").isNotNull, lpFixed(col("cb"), col("cu"))))
      finish(scored.groupBy("doc_id").agg(
        coalesce(sum(col("lpf")), lit(0L)).as("s"),
        count(col("h2")).as("n_bigrams")))
    }
  }

  /** A pre-trained bigram LM: persisted count tables + the train-time
    * vocab scalar. Train ONCE with [[lmTrain]], score any number of
    * corpora with [[lmScore]] — scoring actions then never pay the model
    * build. This is the 100 TB deployment shape (CCNet trains its KenLM
    * quality model offline and ships the binary; this is the DataFrame
    * twin): the inline [[lmCrossEntropy]] necessarily rebuilds the model
    * on its FIRST action (+~20s at 1M x 60 self-scoring — two concurrent
    * corpus passes compete for the same cores), which is fine for one-off
    * scoring but wrong for a serving pipeline scoring batch after batch.
    * Scores are bit-identical to [[lmCrossEntropy]] with the same addK
    * (spec-gated). */
  final case class LmModel private[operators] (
      cbModel: DataFrame,
      cu: DataFrame,
      vocabSize: Double,
      addK: Double)

  /** Train the bigram count model on `ref` and MATERIALIZE it (this is an
    * action): persisted bigram counts, persisted context counts, and the
    * vocab scalar. See [[lmCrossEntropy]] for the model semantics. */
  def lmTrain(
      ref: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 0.5): LmModel = {
    require(addK > 0, s"addK must be > 0, got $addK")
    val refBi = lmBigrams(ref, idCol, textCol, withMarkers = true)
      .filter(col("h1").isNotNull)
    val cb = refBi.groupBy("h1", "h2").agg(count(lit(1)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cuAll = cb.groupBy("h1")
      .agg(sum(when(col("h2").isNotNull, col("cb"))).as("cu"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vv = cuAll.count().toDouble // train-time action: materializes cb + cuAll
    LmModel(cb.filter(col("h2").isNotNull), cuAll.filter(col("cu").isNotNull),
      vv, addK)
  }

  /** Persist a trained [[LmModel]] as a parquet artifact (count tables +
    * a one-row meta relation). This is the full CCNet deployment shape:
    * the quality model trains offline ONCE, ships as an artifact, and
    * serving pipelines [[lmLoad]] + [[lmScore]] batch after batch without
    * ever re-reading the training corpus. */
  def lmSave(model: LmModel, path: String): Unit = {
    val spark = model.cbModel.sparkSession
    import spark.implicits._
    model.cbModel.write.mode("overwrite").parquet(s"$path/cb")
    model.cu.write.mode("overwrite").parquet(s"$path/cu")
    Seq((model.vocabSize, model.addK)).toDF("vocab_size", "add_k")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a persisted LM artifact ([[lmSave]]); the count tables stay
    * lazy parquet scans until first scoring action materializes them. */
  def lmLoad(spark: org.apache.spark.sql.SparkSession, path: String): LmModel = {
    val meta = spark.read.parquet(s"$path/meta").head()
    LmModel(spark.read.parquet(s"$path/cb"), spark.read.parquet(s"$path/cu"),
      meta.getAs[Double]("vocab_size"), meta.getAs[Double]("add_k"))
  }

  /** Score `docs` against a pre-trained [[LmModel]] — same output,
    * routing options, and bit-exact numbers as [[lmCrossEntropy]], but the
    * first action is as cheap as a hot one (the model is already
    * resident and the vocab is a literal, not a broadcast subquery). */
  def lmScore(
      model: LmModel,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      headBigrams: Int = 1 << 18,
      broadcastContexts: Boolean = true,
      headCoverage: Option[Double] = None,
      headMinCount: Option[Long] = None): DataFrame =
    lmScoreFrom(lmBigrams(docs, idCol, textCol, withMarkers = false),
      model.cbModel, model.cu, _.withColumn("vv", lit(model.vocabSize)),
      model.addK, headBigrams, broadcastContexts, headCoverage, headMinCount)

  /** Eval-set decontamination: training docs sharing >= 1 distinct n-gram
    * shingle with any benchmark doc, with the shared-shingle count. The
    * join is an inverted-index equi-join on the 60-bit shingle hash —
    * each side explodes its distinct shingles, so cost is O(corpus
    * shingles), never a doc x doc cross product; the (small) eval side is
    * broadcast. This is how you sweep a 100 TB corpus against a benchmark
    * suite.
    *
    * Output: (doc_id, eval_id, n_shared). */
  def decontaminate(
      train: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val tr = KnnExact.spreadSmall(
        train.select(col(idCol).cast("long").as("doc_id"),
          HashExpressions.ngramShingles(col(textCol), n).as("sh")))
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val ev = evalSet
      .select(col(idCol).cast("long").as("eval_id"),
        HashExpressions.ngramShingles(col(textCol), n).as("sh"))
      .select(col("eval_id"), explode(col("sh")).as("h"))
    tr.join(broadcast(ev), "h")
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
  }
}
