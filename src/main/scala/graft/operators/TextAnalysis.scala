package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Memo

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language id, fingerprinting.
  *
  * All are pure column expressions (whole-stage-codegen friendly, no
  * UDFs) so they vectorize across a 100 TB corpus and push down into
  * one scan — the documents table is read once per pipeline stage, and
  * every derived column is computable map-side with zero shuffles.
  */
object TextAnalysis {

  /** canonical whitespace/case normalization used by fingerprint + dedup */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** whitespace tokens (kept simple + engine-portable; a BPE-ish regex
    * tokenizer is `bpeTokens` below)
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Overlapping token-window chunking — the RAG / context-prep
    * primitive: each document becomes windows of `width` tokens
    * starting every `stride` tokens (stride < width ⇒ overlapping
    * windows; stride = width ⇒ a partition). Pure map-side generator
    * expression per row — no shuffle, no UDF — so at corpus scale it
    * is one streamed scan that chunks in place and parallelizes by
    * input split. Every document emits ceil(max(n,1)/stride) chunks
    * (a whitespace-only doc emits its single degenerate chunk, so no
    * row silently disappears from the pipeline).
    * Output: (id, chunk_idx, chunk_text, n_tokens) with chunk_idx
    * counting windows from 0 and n_tokens the actual (possibly short
    * tail) window length.
    */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"chunk: need 0 < stride <= width, got width=$width stride=$stride")
    val toks = tokens(col(textCol))
    docs.select(col(idCol), size(toks).as("nt"), toks.as("toks"))
      .select(col(idCol),
        posexplode(transform(
          sequence(lit(0), greatest(col("nt") - 1, lit(0)), lit(stride)),
          s => struct(
            array_join(slice(col("toks"), s + 1, lit(width)), " ")
              .as("chunk_text"),
            least(lit(width), col("nt") - s).as("n_tokens"))))
          .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.chunk_text").as("chunk_text"),
        col("c.n_tokens").as("n_tokens"))
  }

  /** BPE-style pre-tokenization: letter runs, digit runs, single
    * punctuation marks — the usual GPT-2-style pre-split shape.
    */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** n-gram word shingles over whitespace tokens.
    *
    * IMPORTANT: pass an already-materialized token ARRAY column (a
    * projected attribute), not an inline `split(...)` expression — a
    * higher-order-function lambda re-evaluates its captured
    * expressions per element, so an inline split would re-tokenize the
    * string O(tokens × n) times per row.
    */
  def shinglesOfTokens(t: Column, n: Int): Column =
    // slide over token indices: concat_ws of t[i..i+n-1]
    filter(
      transform(sequence(lit(0), greatest(size(t) - n, lit(0))),
        i => when(i + n <= size(t),
          concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*))),
      s => s.isNotNull)

  /** n-gram word shingles straight off the text column — convenience
    * form; hot paths should project the token array once and use
    * [[shinglesOfTokens]] (see the warning there).
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(lower(text)), n)

  // ---------- quality scoring ----------

  /** Tie-exact 4-decimal rounding: floor(x·10⁴ + ½)/10⁴ in pure IEEE
    * double ops, which every engine computes bit-identically. Library
    * `round` half-up semantics DIVERGE across engines exactly on ties —
    * one engine rounds the shortest decimal rendering of the double
    * (0.78875 → 0.7888) while another rounds the binary value
    * (0.788749999…96 → 0.7887) — so a ratio landing on a half-way
    * point flips the 4th decimal between this library and a SQL
    * oracle. Ratios of small integer counts (these quality features)
    * hit such ties constantly at corpus scale.
    */
  def round4(c: Column): Column = floor(c * 10000d + 0.5d) / 10000d

  /** length / punctuation / stopword-ratio quality features
    * (all exact-SQL-expressible for oracle parity).
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nAlpha = length(regexp_replace(text, "[^a-zA-Z]", ""))
    val nPunct = length(regexp_replace(text, "[^.,;:!?'\"-]", ""))
    val toks = tokens(text)
    // stop counting is case-folded (matches the langId profiles)
    val nStop = size(filter(tokens(lower(text)),
      t => t.isin(Stopwords.en.map(lit): _*)))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> size(toks),
      "alpha_ratio" -> round4(nAlpha.cast("double") / nChars),
      "punct_ratio" -> round4(nPunct.cast("double") / nChars),
      "stop_ratio" -> round4(nStop.cast("double") / size(toks)))
  }

  /** scalar quality score in [0,1]: stopword presence + sane token
    * length + alphabetic density (a C4/Gopher-style heuristic blend).
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    round4(
      least(f("stop_ratio") * 2.0, lit(1.0)) * 0.4 +
        least(f("alpha_ratio") * 1.25, lit(1.0)) * 0.4 +
        when(f("n_tokens") >= 10 && f("n_tokens") <= 100000, 0.2).otherwise(0.0))
  }

  // ---------- language id ----------

  /** Stopword-profile language scorer: count how many tokens fall in
    * each language's closed-class word set, predict the argmax
    * (deterministic tie-break: language list order). An n-gram
    * heuristic in the fastText tradition, sized for SQL-oracle parity.
    */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = Stopwords.profiles.map { case (lang, ws) =>
      lang -> size(filter(toks, t => t.isin(ws.map(lit): _*)))
    }
    // argmax with first-wins tie-break
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, s)) =>
        (when(s > bestScore, s).otherwise(bestScore),
          when(s > bestScore, lang).otherwise(bestLang))
    }._2
  }

  // ---------- fingerprinting ----------

  /** Corpus vocabulary induction: the top-K tokens by frequency with a
    * deterministic dense id (`rank`) — the table a tokenizer-training
    * step consumes. One explode + one aggregation shuffle; the global
    * order collapses to TakeOrdered (top-K heap, never a full sort),
    * and the rank window runs over the K survivors only.
    */
  def vocabulary(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token").asc)).cast("long"))
  }

  /** Statistical-LM quality scoring — the CCNet/Wiki-filter shape: a
    * corpus unigram model (top `topV` case-folded tokens by count,
    * count-desc/token-asc tiebreak) scores every document by its mean
    * token log-probability; out-of-vocabulary tokens score at the
    * corpus floor ln(1/total). Low (very negative) means = gibberish /
    * OOV-heavy text; high means = common-word prose — the standard
    * model-based complement to the heuristic [[qualityScore]].
    *
    * Scale shape: pass 1 is one token-count aggregation (the vocab
    * table is inherently small — bounded by distinct tokens, then
    * capped at topV); pass 2 re-scans the corpus, joins the BROADCAST
    * vocab, and partial-aggregates per doc — one shuffle of one row
    * per (doc, upstream partition). The per-doc mean folds through an
    * order-independent decimal(38,18) sum (partitioning-portable) and
    * the tie-exact round4, so a SQL oracle reproduces it bit-for-bit.
    * A token-less doc scores the pure-OOV floor rather than vanishing.
    */
  def unigramLogProbScore(docs: DataFrame, idCol: String, textCol: String,
      topV: Int = 4096): DataFrame = {
    val tok = docs.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
    val counts = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    // corpus total as a 1-row broadcast (not a driver action: keeps
    // the operator one lazy plan); an ungrouped aggregate is provably
    // <=1 row, so every crossJoin below is an existence-probe-shaped
    // BNLJ — O(n) against a one-row build, which the plan-invariant
    // suite verifies structurally. Counted from the TOKEN STREAM
    // directly (count of tokens ≡ sum of per-token counts): the old
    // sum-over-counts form re-ran the whole distinct-token aggregation
    // — tokenize + groupBy + exchange — a second time just to add it
    // up, because the counts subtree fans out to two consumers and
    // Catalyst replicates uncached subtrees per reference. An
    // ungrouped count folds map-side with NO exchange. (Caching tok or
    // counts instead was measured and rejected: the cache pins
    // corpus- or vocabulary-sized blocks per parameterization for a
    // one-exchange saving — the ADVICE.md capBuckets failure class.)
    // A corpus with no tokens has no model: nullif makes its zero total
    // null, so every score is null as in the oracle (whose sum over no
    // rows is null), without leaning on ln's null for an input of 0.
    val tot = tok.agg(nullif(count(lit(1)).cast("double"), lit(0.0))
      .as("total"))
    // top-V as orderBy+limit — Catalyst's TakeOrdered heap (per-
    // partition top-V, then a topV-bounded merge), NOT a global
    // row_number window, whose single-partition sort of the distinct-
    // token table is exactly the pattern that dies on a web-scale
    // vocabulary. (cnt desc, token asc) is a total order, so the
    // selected set is identical and deterministic.
    val vocab = counts
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topV)
      .crossJoin(broadcast(tot))
      .select(col("token"),
        log(col("cnt").cast("double") / col("total")).as("logp"))
    val perDoc = tok
      .crossJoin(broadcast(tot))
      .join(broadcast(vocab), Seq("token"), "left_outer")
      .select(col(idCol),
        coalesce(col("logp"), -log(col("total"))).as("lp"))
      .groupBy(col(idCol))
      .agg((sum(col("lp").cast("decimal(38,18)")).cast("double")
        / count(lit(1))).as("mean_lp"))
    docs.select(col(idCol)).crossJoin(broadcast(tot))
      .join(perDoc, Seq(idCol), "left_outer")
      .select(col(idCol),
        round4(coalesce(col("mean_lp"), -log(col("total"))))
          .as("avg_logprob"))
  }

  /** Term/document frequency statistics — the exact-integer table a
    * TF-IDF / BM25 scoring step consumes: one row per (doc, token)
    * with the in-doc term frequency, the token's document frequency,
    * and the corpus size. Two aggregations (per-doc tf, per-token df)
    * and one equi-join on token; every value is a count, so the oracle
    * matches exactly — the log weighting itself is left to the
    * consumer (it is a trivial per-row expression, and keeping floats
    * out of the table keeps it engine-portable).
    */
  private val tfidfMemo = Memo.frames[(Long, String, String)]

  def tfidfStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tfidfMemo.getOrElseUpdate(
      (Memo.planKey(docs), idCol, textCol), {
        // corpus count through the shared memo: a repeat call (bench
        // reps, chained consumers) costs zero jobs instead of a scan
        val n = Memo.count(docs)
        val tok = docs.select(col(idCol),
            explode(tokens(lower(col(textCol)))).as("token"))
          .filter(col("token") =!= "")
        // tf CACHED (the signature/shingle-memo lifecycle): df and the
        // join probe both read it, and uncached Catalyst would
        // replicate the scan + (doc, token) aggregation into each side.
        val tf = tok.groupBy(col(idCol), col("token"))
          .agg(count(lit(1)).as("tf")).cache()
        // df = rows per token IN tf (tf holds exactly one row per
        // (doc, token)) — derived from the cached tf, NOT re-derived
        // from the raw token stream (the pre-r12 shape paid a distinct
        // shuffle + an aggregation shuffle over raw tokens; guide
        // §2.4). Deliberately an AGGREGATE + join, not a count window
        // over tf: the aggregate is partial-aggregable map-side, so a
        // stop-word token present in nearly every document folds to
        // one row per upstream partition — a window partitioned by
        // token would buffer (and spill) that token's ENTIRE row group
        // inside one WindowExec task, a straggler shape that dies at
        // corpus scale. One exchange more than the window, skew-safe
        // at every scale.
        val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val out = tf.join(df_, "token")
          .select(col(idCol), col("token"), col("tf"), col("df"),
            lit(n).as("n_docs"))
        Memo.Frame(out, Seq(tf))
      }).df

  /** the standard smoothed tf-idf weight over a [[tfidfStats]] row —
    * the consumer-side expression kept out of the gated table
    */
  def tfIdfWeight(tf: Column, df_ : Column, nDocs: Column): Column =
    tf * log((nDocs + 1).cast("double") / (df_ + 1))

  /** content fingerprint: md5 of the normalized text (exact-dup key) */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** 64-bit rolling-style fingerprint from the first 16 hex chars */
  def fingerprint64(text: Column): Column =
    conv(substring(fingerprint(text), 1, 15), 16, 10).cast("long")
}

object Stopwords {
  val en = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
    "it", "that", "for", "on", "with", "as", "at", "by", "this")
  val de = Seq("der", "die", "das", "und", "oder", "von", "zu", "im",
    "ist", "es", "mit", "auf", "ein", "eine", "fur", "als")
  val es = Seq("el", "la", "los", "las", "y", "o", "de", "en", "es",
    "que", "para", "con", "un", "una", "por", "como")
  val fr = Seq("le", "la", "les", "et", "ou", "de", "en", "est", "que",
    "pour", "avec", "un", "une", "par", "dans", "sur")
  val zh = Seq("de", "shi", "zai", "he", "le", "you", "wo", "ta",
    "zhe", "na", "bu", "yi")

  /** ordered profiles — order is the tie-break */
  val profiles: Seq[(String, Seq[String])] =
    Seq("en" -> en, "de" -> de, "es" -> es, "fr" -> fr, "zh" -> zh)
}
