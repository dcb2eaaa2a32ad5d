package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines (SURVEY §2.9): language
  * ID, quality scoring, token counting, document fingerprinting. All pure
  * Column expressions (codegen'd, no UDFs) — each scales as a single
  * narrow map over the corpus, no shuffle until the final aggregate.
  */
object TextOps {

  /** Whitespace tokenization; drops empty tokens (leading/trailing/double
    * spaces). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Language-marker stopword sets for the n-gram-free heuristic ID.
    * Deliberately tiny + deterministic so the oracle can mirror them. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "is", "and", "of"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit(_)): _*)))

  /** Per-language marker hit counts, as (lang, count) columns. */
  def langScores(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (l, ws) => l -> markerCount(toks, ws) }

  /** Heuristic language ID: argmax of marker counts, alphabetical
    * tie-break, 'und' when no marker hits. */
  def langId(toks: Column): Column = {
    val scores = langScores(toks)
    val mx = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((l, c), acc) =>
      when(mx > 0 && c === mx, lit(l)).otherwise(acc)
    } // foldRight ⇒ first (alphabetical) winner takes the tie
  }

  /** Stopword set for the quality score — the `en` marker list. */
  val stopwords: Seq[String] = langMarkers.toMap.apply("en")

  /** Mean token length, 6-dp. Caller guarantees non-empty token array. */
  def avgTokenLen(toks: Column): Column =
    round(aggregate(toks, lit(0), (acc, t) => acc + length(t))
      .cast("double") / size(toks), 6)

  /** Fraction of tokens that are stopwords, 6-dp. */
  def stopwordRatio(toks: Column): Column =
    round(size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
      .cast("double") / size(toks), 6)

  /** Simple deterministic quality score in [0,1]: length prior ×
    * (1 − stopword density). */
  def qualityScore(toks: Column): Column =
    round(least(lit(1.0), size(toks).cast("double") / 100.0) *
      (lit(1.0) - size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
        .cast("double") / size(toks)), 6)

  /** OpenRefine-style fingerprint key: sorted distinct tokens re-joined —
    * collapses word-order/duplication variants into one cluster key. */
  def fingerprint(toks: Column): Column =
    concat_ws(" ", array_sort(array_distinct(toks)))

  /** Word bigrams of a token array: n−1 space-joined adjacent pairs. */
  def bigrams(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1)))

  /** Hash dimension of the [[linearModelLogit]] weight table: 2^18
    * buckets, the usual fastText-scale table. */
  val QualityModelDim: Int = 1 << 18

  /** Unigram + bigram feature list of a token array — the fastText
    * feature extractor. Single-token docs contribute the unigram only
    * (the bigram list is empty, matching the `len(t) >= 2` guard every
    * bigram oracle shares). */
  def hashedFeatures(toks: Column): Column =
    when(size(toks) >= 2, concat(toks, bigrams(toks))).otherwise(toks)

  /** Feature-hashed linear-model INFERENCE — the quality-classifier
    * serving shape (fastText-style): each feature hashes into a
    * [[QualityModelDim]]-bucket weight table (collisions share weights,
    * exactly like a trained hashed model), and the document logit is
    * the sum of its feature weights. The weight table here is a
    * deterministic md5-derived stand-in (integer weights in
    * [-1000, 1000]) — the plumbing under test is the inference pass:
    * a pure higher-order-function chain (transform + aggregate) that
    * stays scan-side with ZERO shuffles and full codegen, which is what
    * scoring 10^11 documents requires. Swapping the stand-in for real
    * trained weights = replacing the inner weight expression with a
    * broadcast map lookup; the plan shape is unchanged. Integer end to
    * end, so external engines reproduce every logit exactly. */
  def linearModelLogit(feats: Column, dim: Int = QualityModelDim): Column =
    aggregate(
      transform(feats, f => {
        val bucket = Dedup.md5Hash60(concat(lit("qb:"), f)) % dim
        Dedup.md5Hash60(concat(lit("qw:"), bucket.cast("string"))) % 2001 - 1000
      }),
      lit(0L), (acc, w) => acc + w)

  /** Count of the MOST FREQUENT element of a string array, computed
    * narrow: sort the array, then one fold tracking the longest equal
    * run — no explode, no groupBy, so per-document repetition scoring
    * stays a pure scan-side projection at corpus scale (the explode +
    * two-level groupBy formulation shuffles every n-gram occurrence
    * twice). Higher-order aggregate like the sibling scores here; the
    * custom-codegen'd-expression upgrade path exists if this ever lands
    * on a per-token hot path. Empty array → 0. */
  def maxElementCount(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Corpus-conditioned quality proxy — the CCNet-style LM-filter shape
    * with an honestly simplified model: each document is scored by the
    * mean conditional frequency P(w₂ | w₁) = c(w₁ w₂) / c(w₁ ·) of its
    * word bigrams, with the counts taken from the corpus itself (no
    * external model artifacts exist in this environment; a production
    * pass would swap in pretrained LM scores — the plan shape is
    * identical). Fluent, common text scores high; gibberish, OCR noise
    * and wrong-language text score near zero.
    *
    * Determinism: no logs, no float accumulation. Each occurrence
    * contributes the INTEGER floor(10⁶ · c₂ / c₁) — exact same value in
    * every engine — summed exactly as a bigint and divided by the
    * occurrence count once at the end. Overflow headroom: 10⁶ · c₂
    * stays under Long.Max while the most frequent bigram has ≤ 9·10¹²
    * corpus occurrences.
    *
    * 100 TB shape: occurrences are pre-aggregated per (doc, bigram)
    * BEFORE any join (the pre-join-aggregation rule — multiplicity
    * rides as an integer `k` instead of k rows); the stats/prefix
    * tables are bigram-cardinality bounded, not corpus bounded; both
    * attach joins are pure equality shuffles on the bigram / prefix-word
    * key.
    *
    * Open-vocab bound: at web scale MOST distinct bigrams are
    * near-hapax noise (typos, ids, OCR), so an unfloored stats table is
    * vocab-sized — the exact table the attach join must broadcast or
    * SMJ. `minCount` drops bigrams with corpus count c2 < minCount from
    * the SCORED set (a CCNet-faithful smoothing choice: an unmodeled
    * bigram contributes familiarity 0, exactly like unknown n-grams
    * under a pretrained LM); dropped occurrences still count in the
    * denominator, so gibberish is penalized rather than ignored, and
    * every ≥2-token document stays present. Prefix totals c1 are
    * computed over the UNfloored stats — P(w₂|w₁) stays a true
    * conditional frequency; only which bigrams get scored changes.
    * Returns (doc_id, n_bigrams, familiarity); documents with fewer
    * than two tokens have no bigrams and are absent. */
  def bigramFamiliarity(docs: DataFrame, id: String = "doc_id",
                        text: String = "text",
                        minCount: Int = DefaultFamiliarityMinCount): DataFrame = {
    // fanOutExpansion on the (id, text) rows before the bigram explode
    // — no-op at corpus scale (Rebalance doc)
    val perDoc = graft.operators.Dedup.materialize(
      Rebalance.fanOutExpansion(docs.select(col(id), col(text)))
        .withColumn("__t", tokens(col(text)))
        .filter(size(col("__t")) >= 2)
        .select(col(id).as("doc_id"), explode(bigrams(col("__t"))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k")))
    val stats = perDoc.groupBy(col("bg")).agg(sum(col("k")).as("c2"))
    val prefix = stats
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    perDoc
      // left join against the FLOORED stats: an unscored bigram rides
      // through as c2 = NULL -> contribution 0 via the coalesce below
      .join(stats.filter(col("c2") >= minCount), Seq("bg"), "left")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      // inner: every bigram's w1 is in prefix (built from all bigrams)
      .join(prefix, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") *
          expr("coalesce((cast(1000000 as bigint) * c2) div c1, " +
            "cast(0 as bigint))")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        // round-6 in EXACT integers: micro = round-half-up(__s / n) =
        // (2·__s + n) div (2·n), then ONE exact /10⁶. The former
        // round(double, 6) disagreed with DuckDB on half-way ties
        // (decimal-string HALF_UP vs float rounding) — the sf0.1 sweep
        // caught a 1-ulp tie at doc 668
        (expr("(2 * __s + n_bigrams) div (2 * n_bigrams)").cast("double")
          / lit(1000000.0)).as("familiarity"))
  }

  /** The gate's bigram-count floor — shared with the generated DuckDB
    * oracle (`Extensions.oracles("text_familiarity")`) so the pair
    * cannot drift. 2 = drop exactly the hapax bigrams: the long tail
    * that makes an unfloored stats table vocab-sized at open vocab,
    * while every repeated (i.e. minimally evidenced) bigram keeps its
    * true conditional frequency. */
  val DefaultFamiliarityMinCount = 2

  /** Reference-corpus LM quality score — the CCNet/KenLM curation shape
    * ([[bigramFamiliarity]] scores a corpus against ITSELF and ignores
    * unseen bigrams; this trains on one corpus and scores ANOTHER, with
    * add-one smoothing so out-of-vocabulary material is penalized
    * instead of skipped — the signal that separates "fluent but novel"
    * from "out of domain"). Model: p(w2|w1) = (c2(w1,w2)+1) / (c1(w1)+V)
    * over the training corpus's bigram/unigram counts, V = |training
    * vocabulary|. Per target document: mean smoothed conditional over
    * its adjacent token pairs, plus the OOV-pair count. Every per-pair
    * contribution is quantized to micro-units with exact integer
    * division and summed as BIGINT, so any partitioning folds to the
    * identical result and a SQL oracle replays it bit-for-bit (the
    * log-domain perplexity is a monotone per-pair transform away;
    * staying linear keeps the arithmetic engine-exact).
    *
    * 100 TB shape: the two model tables (bigram and unigram counts) are
    * vocabulary-sized — Zipf-truncate upstream if open-domain — and
    * attach by equality join (broadcast under AQE when they fit); V is
    * ONE driver-side long; the target side is one explode + one partial
    * aggregation per doc; nothing joins the corpus to itself. */
  def lmScore(train: DataFrame, target: DataFrame, id: String = "doc_id",
              text: String = "text"): DataFrame = {
    // persisted: the unigram model feeds BOTH the |V| count and the
    // attach join — without the persist the count action and the join
    // each run the full scan+explode+aggregate (the keyTerms lesson:
    // branch expression ids differ, so no exchange reuse saves you)
    // fanOutExpansion on each tokenized scan (train ×2, target) — the
    // token/bigram explodes multiply work per input byte; no-op at
    // corpus scale (Rebalance doc)
    val trainFan = Rebalance.fanOutExpansion(train.select(col(text)))
    val uni = trainFan.select(explode(tokens(col(text))).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = uni.count() // |V|: one scalar to the driver — model-scale
    require(v > 0, "lmScore: training corpus has no tokens")
    val big = trainFan.withColumn("__t", tokens(col(text)))
      .filter(size(col("__t")) >= 2)
      .select(explode(bigrams(col("__t"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    Rebalance.fanOutExpansion(target.select(col(id), col(text)))
      .withColumn("__t", tokens(col(text)))
      .filter(size(col("__t")) >= 2)
      .select(col(id).as("doc_id"), explode(bigrams(col("__t"))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("k"))
      .join(big, Seq("bg"), "left")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(uni, Seq("w1"), "left")
      .withColumn("p_micro", expr(
        s"(cast(1000000 as bigint) * (coalesce(c2, cast(0 as bigint)) + 1)) " +
          s"div (coalesce(c1, cast(0 as bigint)) + $v)"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_pairs"),
        sum(when(col("c2").isNull, col("k")).otherwise(lit(0L)))
          .as("oov_pairs"),
        sum(col("k") * col("p_micro")).as("__s"))
      .select(col("doc_id"), col("n_pairs").cast("long").as("n_pairs"),
        col("oov_pairs").cast("long").as("oov_pairs"),
        // same exact integer round-6 as familiarity (tie-free across
        // engines; the sf0.1 sweep caught 5 half-way ties here)
        (expr("(2 * __s + n_pairs) div (2 * n_pairs)").cast("double")
          / lit(1000000.0)).as("lm_score"))
  }

  /** Per-document keyword extraction: the k most distinctive terms,
    * ranked by (tf desc, df asc, term asc) — most frequent in the
    * document, rarest across the corpus, lexicographic tie-break. The
    * integer total order is exactly TF-IDF's shape on exact legs (log
    * is monotone in 1/df), chosen over `tf·ln(N/df)` so an external
    * oracle reproduces the ranking bit-for-bit.
    *
    * 100 TB shape: tf is a map-side-combined groupBy over the token
    * explode, computed ONCE and persisted spillable — it feeds both the
    * df fold and the attach join, and without the explicit persist the
    * two branches carry distinct expression ids, so neither static
    * ReuseExchange nor AQE stage reuse deduplicates them (measured: two
    * full scan→explode→(doc,term) exchanges in the executed plan; the
    * r13 30×-probe audit found this was most of text_keyterms' growth).
    * The cache is the same order as the shuffle it replaces and is
    * reclaimed by the ContextCleaner. df folds the persisted tf by term
    * (one count per distinct (doc, term), so df = document frequency
    * exactly); the corpus-wide df attach joins on term UNhinted — a
    * Zipf-truncated vocabulary table usually broadcasts under AQE, a
    * giant one shuffles, either is correct; the final per-doc top-k runs
    * through the bounded [[TopK.TermTopKAgg]] buffer, so partial
    * aggregation ships at most k terms per document per map partition —
    * never the full scored term table — and no window sorts anything.
    * Returns (doc_id, rk, term, tf, df); documents with no tokens are
    * absent. */
  def keyTerms(docs: DataFrame, id: String = "doc_id",
               text: String = "text", k: Int = 5): DataFrame = {
    require(k > 0, s"keyTerms: k must be positive, got $k")
    // loud contract check, same pattern as packOffsets: a null or
    // non-numeric id would otherwise collapse every such row into one
    // doc_id=null group of k garbage corpus-level terms (or, under
    // ANSI, surface as an opaque mid-job CAST_INVALID_INPUT) — one
    // narrow id-column scan with try_cast, which nulls instead of
    // throwing in either SQL mode
    val bad = docs.agg(
      count(when(expr(s"try_cast(`$id` as long)").isNull, lit(1))))
      .head().getLong(0)
    require(bad == 0L,
      s"keyTerms: $bad rows have a null/non-numeric '$id' — a numeric, " +
        "non-null document id is required")
    // fanOutExpansion: the token explode emits ~|tokens| rows per doc
    // into the (doc, term) aggregate — a small-input scan (fewer splits
    // than cores) rebalances on the cheap (id, text) rows first; no-op
    // at corpus scale (Rebalance doc)
    val tf = Rebalance.fanOutExpansion(
      docs.select(col(id).cast("long").as("doc_id"), col(text)))
      .select(col("doc_id"), explode(tokens(col(text))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val agg = udaf(new TopK.TermTopKAgg(k),
      org.apache.spark.sql.Encoders.product[TopK.TermScored])
    tf.join(dft, "term")
      .groupBy("doc_id")
      .agg(agg(col("tf"), col("df"), col("term")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("doc_id"), (col("i") + 1).cast("int").as("rk"),
        col("t.term").as("term"), col("t.tf").as("tf"), col("t.df").as("df"))
  }

  /** Sequence-packing offsets — the concatenate-and-chunk pass that
    * turns a tokenized corpus into fixed-`seqLen` training sequences:
    * documents concatenate in `doc_id` order, and each document's
    * global token offset determines the sequence it starts in
    * (`seq_idx = start / seqLen`) and where (`seq_off = start %
    * seqLen`). Returns (doc_id, n_tokens, seq_idx, seq_off).
    *
    * The global prefix sum is the textbook low-cardinality-window trap
    * (`SUM OVER (ORDER BY doc_id)` makes ONE task sort the corpus), so
    * it runs as the scalable two-phase form instead: per-bucket token
    * totals (bucket = doc_id div `bucketSize` — deterministic, data-
    * independent), a driver-side running sum over the TINY bucket-total
    * table (corpus/bucketSize rows — ~10⁴ at 10¹⁰ documents, no row
    * data), and a within-bucket exclusive cumsum whose window partition
    * is bounded by `bucketSize` rows. Exact integer math end to end, so
    * the result is bit-identical to the single-window oracle.
    *
    * `bucketSize = 0` (the default) auto-scales: the driver-side running
    * sum holds one tuple per OCCUPIED bucket, so the size is derived
    * from the observed id span to target ≤ [[Sampling.TargetBuckets]] buckets
    * (floor 4096) — the driver step stays ~100k tuples at any corpus
    * size instead of growing as n_docs/4096. The result is invariant to
    * the sizing (the two-phase sum is exact for EVERY bucketing — law in
    * `OperatorsSpec`), so auto vs explicit only moves work, never rows. */
  def packOffsets(docs: DataFrame, id: String, text: String,
                  seqLen: Int, bucketSize: Long = 0L): DataFrame = {
    require(seqLen > 0 && bucketSize >= 0)
    // the two-phase machinery lives in Sampling.exclusiveOffsets (shared
    // with weighted PPS sampling); packing is just its projection onto
    // fixed-length sequences
    Sampling.exclusiveOffsets(
        docs.select(col(id).cast("long").as("doc_id"),
          size(tokens(col(text))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", bucketSize)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"start div ${seqLen}L").as("seq_idx"),
        (col("start") % seqLen).as("seq_off"))
  }

  /** Distributed inverted index: (term, df, postings) with postings the
    * comma-joined ascending doc-id list — the retrieval/search sibling
    * of [[keyTerms]]. Two aggregations, both keyed on the term:
    * document frequency first (a cheap count that partial-aggregates
    * map-side), then postings collected ONLY for terms under `dfCap` —
    * the order matters, because a corpus-frequent term ("the", a
    * boilerplate token) would otherwise funnel a postings list the size
    * of the corpus through one reducer before any cap could apply.
    * Over-cap terms stay in the output as (term, df, NULL): the
    * accounting is loud, the cost is not paid. Postings are emitted as
    * a joined string, not an array — a dfCap-bounded cell either way,
    * and exact cross-engine compares on strings are trivial. */
  def invertedIndex(docs: DataFrame, id: String = "doc_id",
                    text: String = "text", dfCap: Int = 64): DataFrame = {
    require(dfCap > 0, s"invertedIndex: dfCap must be positive, got $dfCap")
    val presence = Dedup.materialize(
      docs.select(col(id).cast("long").as("doc_id"),
          explode(tokens(col(text))).as("term"))
        .distinct())
    val dft = presence.groupBy("term").agg(count(lit(1)).as("df"))
    val postings = presence
      .join(dft.filter(col("df") <= dfCap).select("term"), Seq("term"),
        "left_semi")
      .groupBy("term")
      .agg(concat_ws(",",
        transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("postings"))
    dft.join(postings, Seq("term"), "left_outer")
      .select(col("term"), col("df"),
        when(col("df") <= dfCap, col("postings")).as("postings"))
  }

  /** BM25 retrieval: top-k corpus documents per query, Okapi
    * tf-saturation with a RATIONAL idf — the Robertson idf argument
    * `(N − df + 0.5)/(df + 0.5)` kept in integer micro-units instead of
    * its log (the [[keyTerms]]/[[TopK.TermTopKAgg]] rule: log is
    * monotone, so per-term ordering is identical, and an external
    * oracle replays every score bit-for-bit — `tf·ln(...)` cannot cross
    * engines exactly). k1 = 1.2, b = 0.75 are folded into one exact
    * integer division per (term, doc):
    *
    * {{{
    * idf_micro  = (1e6 · (2(N−df)+1)) div (2·df+1)
    * sat_micro  = (1e6 · tf · 22 · S) div (10·S·tf + 3·S + 9·dl·N)
    * score      = Σ_terms (idf_micro · sat_micro) div 1e6
    * }}}
    *
    * where N = corpus docs, S = total corpus tokens, dl = doc length —
    * sat_micro is `tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))` with avgdl
    * = S/N multiplied through (×10S), so no intermediate rounding.
    * All legs are positive, so Spark's truncating `div` and an ANSI
    * engine's floor `//` agree.
    *
    * 100 TB shape: the postings build is ONE map-side-combined groupBy
    * over the token explode, persisted spillable because it feeds the
    * df fold, the (N, S) stats, and the scoring join (the [[keyTerms]]
    * branch-reuse lesson) — the corpus is scanned and tokenized exactly
    * once. (N, S) is a single aggregated row off the persisted postings
    * (N = distinct doc, S = Σtf) to the driver — model-scale, like
    * [[lmScore]]'s |V|. df attaches term-keyed
    * (colocated with the postings shuffle); the query-term table joins
    * unhinted — query sets are usually tiny and broadcast under AQE,
    * but nothing breaks if they shuffle. The per-query top-k runs
    * through the bounded [[TopK.TopKAgg]] buffer: k rows per query per
    * map partition cross the final shuffle, never the full scored
    * (query × doc) table. Scores stay exact in the Double buffer up to
    * 2^53 micro-units; past ~10⁹ docs shrink the 1e6 idf quantum one
    * decade per 10× N.
    *
    * The scored stream is the linear-growth term: |matches| =
    * Σ_queries Σ_terms df(term). Exhaustive BM25 pays it by definition;
    * `maxDfFrac` < 1 drops terms present in more than that fraction of
    * the corpus from SCORING — the standard stopword-pruning trade
    * (those terms carry the least idf weight and the most volume).
    * Default 1.0 = exact BM25; the knob changes semantics, so it is a
    * caller decision, never silent.
    *
    * Returns (query_id, rk, doc_id, score_micro); queries with no
    * matching term are absent. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
               id: String = "doc_id", text: String = "text",
               qid: String = "query_id", qtext: String = "query_text",
               maxDfFrac: Double = 1.0): DataFrame = {
    requireBm25Args("bm25TopK", k, maxDfFrac)
    bm25SelfBoard(docTermFreqs(corpus, id, text)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      bm25QueryTerms(queries, qid, qtext), k, maxDfFrac,
      "bm25TopK: corpus has no tokenized documents")
  }

  /** The argument checks every BM25 board entry point shares. */
  private[operators] def requireBm25Args(what: String, k: Int,
                                         maxDfFrac: Double): Unit = {
    require(k > 0, s"$what: k must be positive, got $k")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"$what: maxDfFrac must be in (0, 1], got $maxDfFrac")
  }

  /** Board over a postings slice that is its own corpus — inline
    * [[bm25TopK]] and the stored index's tenant-scope filtered serve:
    * (N, S) and df derive from `post` itself. `post` must already be
    * cached or checkpointed, because the stats head(), the df fold and
    * the scoring join all read it (the corpus is tokenized once). The
    * stats are one doc-keyed fold (map-side combined, no count-distinct
    * Expand): N = docs, S = Σ dl = total tokens. */
  private[operators] def bm25SelfBoard(post: DataFrame, qterms: DataFrame,
                                       k: Int, maxDfFrac: Double,
                                       emptyMsg: String): DataFrame = {
    val stats = bm25StatsPartials(post).head()
    val nDocs = stats.getLong(0)
    require(nDocs > 0, emptyMsg)
    bm25Board(post, post.groupBy("term").agg(count(lit(1)).as("df")),
      qterms, nDocs, stats.getLong(1), maxDfFrac, k)
  }

  /** The per-(doc, term) postings table (doc_id, term, tf, dl) — the
    * single tokenize-and-fold pass every BM25 path (inline
    * [[bm25TopK]], persisted [[Bm25Index]]) builds on. One shared
    * builder so the stored artifact can never drift from the inline
    * semantics. */
  private[graft] def docTermFreqs(corpus: DataFrame, id: String,
                                  text: String): DataFrame =
    // fanOutExpansion: tokenize+explode emits one row per TOKEN (one
    // input byte ≈ a row of downstream groupBy work), so a small-input
    // scan (fewer splits than cores) is rebalanced on the cheap
    // (id, text) rows first; a no-op at corpus scale (Rebalance doc).
    // Every postings build (Bm25Index write/append/CDC, inline bm25TopK)
    // inherits the fan-out through this one choke point.
    Rebalance.fanOutExpansion(
      corpus.select(col(id).cast("long").as("doc_id"), col(text)))
      .select(col("doc_id"), tokens(col(text)).as("__t"))
      .filter(size(col("__t")) > 0)
      .withColumn("dl", size(col("__t")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("__t")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  /** (n, s) corpus-stat fold off a postings table: N = docs, S = Σ dl.
    * Distributive in the postings' doc partition — per-batch partials
    * sum to the global stats exactly (what [[Bm25Index]] persists). */
  private[operators] def bm25StatsPartials(postings: DataFrame): DataFrame =
    postings.groupBy("doc_id").agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))

  private[operators] def bm25QueryTerms(queries: DataFrame, qid: String,
                                        qtext: String): DataFrame =
    queries.select(col(qid).cast("long").as("query_id"),
      explode(array_distinct(tokens(col(qtext)))).as("term"))

  /** The one scoring tail every BM25 board ends in — inline
    * [[bm25TopK]], the stored index's serve and its tenant board: the
    * (doc_id, term, tf, dl) match stream joins the (term, df) table
    * (cut by `maxDfFrac`) and the (query_id, term) query terms, scores
    * each (term, doc) with the exact integer Okapi arithmetic (see
    * [[bm25TopK]]), sums per (query, doc), and cuts per-query top-k
    * through the bounded [[TopK.TopKAgg]] buffer under the (score desc,
    * doc_id asc) total order, projected to the gate schema. */
  private[operators] def bm25Board(post: DataFrame, df: DataFrame,
                                   qterms: DataFrame, nDocs: Long,
                                   sTok: Long, maxDfFrac: Double,
                                   k: Int): DataFrame = {
    val kept =
      if (maxDfFrac >= 1.0) df
      else df.filter(col("df") <= lit(math.ceil(maxDfFrac * nDocs).toLong))
    val scored = post
      .join(kept, Seq("term"))
      .join(qterms, Seq("term"))
      .withColumn("__idf", expr(
        s"(cast(1000000 as bigint) * (2 * ($nDocs - df) + 1)) div (2 * df + 1)"))
      .withColumn("__sat", expr(
        s"(cast(1000000 as bigint) * tf * 22 * $sTok) div " +
          s"(10 * cast($sTok as bigint) * tf + 3 * cast($sTok as bigint) + 9 * dl * $nDocs)"))
      .withColumn("__sc", expr("(__idf * __sat) div cast(1000000 as bigint)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__sc")).as("score_micro"))
    TopK.topKPerGroup(scored, "query_id", "doc_id", "score_micro", k)
      .select(col("query_id"), col("rk"), col("doc_id"),
        col("score_micro").cast("long").as("score_micro"))
  }
}
