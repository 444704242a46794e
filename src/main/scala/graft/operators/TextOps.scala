package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.QuerySpec

/** Text-analysis operators for a training-data pipeline (north star):
  * tokenization, token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. All are pure column expressions (whole-stage
  * codegen'd, no UDFs) so they scale linearly with the scan — at 100 TB
  * these run map-side with zero shuffle until the final rollup.
  */
object TextOps {

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish word/number pieces (letters runs + digit runs). */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[A-Z]+|[0-9]+"), lit(0))

  def tokenCount(text: Column): Column = tokenCountOfTokens(tokens(text))

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column =
    stopwordRatioOfTokens(tokens(text))

  /** Type-token ratio: distinct tokens / tokens — a repetitiveness score. */
  def typeTokenRatio(text: Column): Column =
    typeTokenRatioOfTokens(tokens(text))

  // `...OfTokens` twins for scans that compute SEVERAL token metrics per
  // row: each metric's inline `tokens(text)` is a separate split() per
  // occurrence (2-3 each — Catalyst does not CSE across Column trees),
  // so a five-metric projection re-splits every row ~8×. Materialize the
  // token array once in its own projection and feed these instead —
  // same mechanics as [[wordNgramsOfTokens]], same bit-identical output.
  def tokenCountOfTokens(toks: Column): Column = size(toks)

  def stopwordRatioOfTokens(toks: Column): Column =
    size(filter(toks, t => t.isin("the", "a", "of", "and", "to"))).cast("double") /
      size(toks)

  def typeTokenRatioOfTokens(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Deterministic 64-char-prefix polynomial rolling hash (mod 1e9+7). */
  def fingerprint(text: Column): Column = fingerprintOfPrefix(substring(text, 1, 64))

  /** [[fingerprint]] over a pre-materialized prefix column: the fold
    * lambda references the prefix per CHARACTER, so an inline
    * `substring(text,1,64)` re-copies the prefix 64× per row (the
    * `...OfTokens` note applies — lambda captures sit outside
    * subexpression elimination). Feed an attribute. */
  def fingerprintOfPrefix(t: Column): Column =
    // codegen'd kernel (r18): the previous aggregate(sequence(1,
    // length(t)), …) fold paid an interpreted lambda + substring slice PER
    // CHARACTER; PrefixPolyHash walks the code points once — same values
    // (TextExprSuite pins equality against the HOF form)
    graft.functions.TextFunctions.prefix_poly_hash(t)

  /** Marker-stopword language-ID heuristic. On real corpora the marker sets
    * would be per-language n-gram tables; the argmax-with-tie-break shape is
    * the same.
    */
  def langId(text: Column): Column = langIdOfTokens(tokens(text))

  /** [[langId]] over a pre-materialized token array (four marker scores
    * otherwise embed four splits — see the `...OfTokens` note below). */
  def langIdOfTokens(toks: Column): Column = {
    def score(markers: String*): Column =
      size(filter(toks, t => t.isin(markers.map(lit): _*)))
    val en = score("the", "a", "of")
    val de = score("der", "die", "das")
    val es = score("el", "los", "una")
    val fr = score("le", "les", "une")
    // argmax with fixed preference order on ties
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Top-k characteristic terms per group by TF-IDF — "what vocabulary
    * distinguishes this language / source / domain slice", the standard
    * corpus-exploration and quality-audit step.
    *
    * Scale design (100 TB): tf is one shuffle keyed on (group, term) with
    * map-side partial counts; df one on term; N is a broadcast scalar (a
    * one-row crossJoin — never a driver collect). The final top-k window
    * sorts only |groups|×|vocab| scored rows, not the corpus.
    *
    * Determinism vs an independent engine: the ranking key is
    * `round(tfidf, 6)` DESC with the term string as tie-break — rounding
    * first makes float-ulp library differences in ln() unable to reorder
    * near-ties.
    */
  def tfidfTopTerms(docs: DataFrame, groupCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the term stream feeds two aggregations keyed differently ((grp,
    // term) vs term) so it IS computed twice — deliberately: a bare
    // split+explode is cheaper to recompute than to materialize
    // (measured; contrast bigramLmScore, whose heavier stream is
    // checkpointed)
    val toks = docs.select(col("doc_id"), col(groupCol).as("grp"),
      explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("grp"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp")).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rn") <= k)
      .select(col("grp").as(groupCol), col("rn"), col("term"),
        col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus-trained bigram language-model score per document: the mean
    * log conditional probability avg(ln c(w1 w2) / c(w1 ·)) over the
    * doc's bigrams, with the corpus itself as training data — the
    * KenLM-style fluency signal a curation pipeline thresholds on
    * (gibberish and boilerplate-scrambles score low; text whose bigrams
    * are corpus-typical scores high).
    *
    * Scale design (100 TB): training is two keyed aggregations over the
    * exploded bigram stream (map-side partial counts); scoring joins each
    * doc's bigrams against the two count tables — hash joins keyed on
    * the bigram/history strings, broadcastable when the vocabulary is
    * small. The per-doc average is one more keyed agg; document text
    * never travels beyond the initial explode.
    *
    * Float caveat: the per-doc mean sums ln() terms in partition order,
    * so scores are deterministic within one engine but not bit-stable
    * across engines — exactness is spec-gated (BigramLmSuite computes a
    * fixture by hand), not oracle-gated.
    */
  def bigramLmScore(docs: DataFrame): DataFrame =
    bigramLogProbs(docs)
      .groupBy(col("doc_id"))
      .agg(avg(col("lp")).as("lm_score"), count(lit(1)).as("n_bigrams"))

  /** Per-bigram log conditional probabilities `(doc_id, lp)` — the shared
    * training+scoring pipeline behind both scoring tiers. */
  private def bigramLogProbs(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    // bigram stream off the codegen'd WordNgrams kernel (r18): posexplode's
    // 0-based index i addresses the bigram's FIRST token (element_at is
    // 1-based, hence i+1); the previous zip_with(slice, slice, struct)
    // lambda was interpreted per bigram — same (w1, "w1 w2") rows
    val bi = toks.select(col("doc_id"), col("t"),
        posexplode(wordNgramsOfTokens(col("t"), 2)).as(Seq("__i", "bg")))
      .select(col("doc_id"),
        element_at(col("t"), col("__i") + 1).as("w1"), col("bg"))
      // three consumers, three different join/agg keys (bg, w1, bg→w1):
      // checkpoint the bigram stream once rather than re-scanning and
      // re-exploding the text per consumer. Trade: stores ~2× the text
      // size; at cluster scale with cheap disk that beats two extra full
      // corpus scans, and the stream is already the operator's working set
      .localCheckpoint(false)
    val cBg = bi.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    // history count = bigrams starting with w1 (so P sums to 1 per history)
    val cW1 = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bi.join(cBg, "bg").join(cW1, "w1")
      .withColumn("lp", log(col("c2").cast("double") / col("c1")))
  }

  /** Engine-portable tier of [[bigramLmScore]]: each bigram's log-prob is
    * rounded to integer MICRO-units (`round(lp·1e6)` as long) before the
    * per-doc aggregation, so the sum is an integer — addition order cannot
    * perturb it, and the score is bit-identical on any engine whose `ln`
    * is within ~1e-9 of correctly rounded (JVM `Math.log` and C
    * `std::log` both are, to well under a micro-unit except measure-zero
    * boundary ties). `score_micro = round(Σ lp_micro / n)` — i.e. the
    * mean log-prob in micro-nats as a long. This is the tier the q64
    * oracle gates; [[bigramLmScore]] keeps full double precision for
    * in-engine thresholding.
    *
    * The mean itself is PURE integer arithmetic — half-away-from-zero
    * rounding as `sign(s) * ((2|s| + n) div 2n)`, every operand
    * nonnegative so truncating (Spark `div`) and flooring (DuckDB `//`)
    * integer division agree — rather than `round(sum/n)` through a
    * double, which silently loses exactness once |sum| exceeds 2^53
    * (~4e8 bigrams at worst-case lp magnitudes). */
  def bigramLmScoreMicro(docs: DataFrame): DataFrame =
    bigramLogProbs(docs)
      .withColumn("lp_micro", round(col("lp") * lit(1e6)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp_micro")).as("s"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"),
        expr("CAST(sign(s) AS BIGINT) * ((abs(s) * 2 + n_bigrams) div (n_bigrams * 2))")
          .as("score_micro"),
        col("n_bigrams"))

  /** Overlapping word n-grams of a text column (empty when the doc has
    * fewer than n tokens — `sequence(1, size−n+1)` would otherwise count
    * DOWN and fabricate grams). Pure column expression: codegen'd,
    * map-side, zero shuffle. */
  def wordNgrams(text: Column, n: Int): Column =
    wordNgramsOfTokens(tokens(text), n)

  /** [[wordNgrams]] over an ALREADY-TOKENIZED array column.
    *
    * Why this exists: the token array is referenced once per generated
    * gram (the `slice` inside the `transform` lambda), and lambda bodies
    * are outside codegen's subexpression elimination — so when `toks` is
    * an inline `split(text)` the text gets re-split for EVERY gram,
    * turning an O(tokens) kernel into O(tokens·grams) (measured 3× on
    * the sf0.1 gram stream). Callers that explode grams should
    * materialize the token array in its own projection first (see
    * [[explodedGrams]]) so each row is split exactly once.
    */
  def wordNgramsOfTokens(toks: Column, n: Int): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    // codegen'd kernel (r18): the previous
    // `when(size >= n, transform(sequence(…), i => concat_ws(" ",
    // slice(toks, i, n)))).otherwise(array())` HOF form was interpreted
    // per gram (~2 µs/gram measured on the q144 stream); WordNgrams emits
    // the identical strings — including the empty-array (<n tokens /
    // null array) and concat_ws null-token rules — from one tight loop
    graft.functions.TextFunctions.word_ngrams(toks, n)
  }

  /** The exploded word-n-gram stream of `df`: `keep` columns + `gram`,
    * one row per (doc, gram) — per-doc-distinct when `distinctPerDoc`
    * (an `array_distinct` BEFORE the explode: map-side, no shuffle).
    *
    * Tokenization runs in its OWN projection so each row's text is
    * split once, not once per gram (scaladoc at [[wordNgramsOfTokens]]).
    * CollapseProject will not inline it back: the token array is
    * referenced more than once by a non-cheap expression, which is
    * exactly the case the rule's duplication guard keeps separate.
    */
  private[graft] def explodedGrams(df: DataFrame, n: Int, keep: Seq[String],
                                   textCol: String = "text",
                                   distinctPerDoc: Boolean = false): DataFrame = {
    val grams = wordNgramsOfTokens(col("__toks"), n)
    df.select(keep.map(col) :+ tokens(col(textCol)).as("__toks"): _*)
      .select(keep.map(col) :+
        explode(if (distinctPerDoc) array_distinct(grams) else grams).as("gram"): _*)
  }

  /** The distinct gram set of an eval corpus — the broadcast side every
    * contamination operator probes. */
  private def evalGramSet(evalDocs: DataFrame, n: Int, textCol: String): DataFrame =
    explodedGrams(evalDocs, n, Seq.empty, textCol).select(col("gram")).distinct()

  /** Every eval set's gram set TAGGED with its benchmark name and
    * unioned — the one broadcast side [[contaminationMatrix]] and its
    * streaming twin ([[graft.streaming.StreamingCuration
    * .contaminationMatrixStream]]) share, so the two tiers cannot drift
    * on what "contaminated by benchmark X" means. */
  private[graft] def taggedEvalGrams(evals: Seq[(String, DataFrame)], n: Int,
                                     textCol: String = "text"): DataFrame =
    evals.map { case (name, df) =>
      evalGramSet(df, n, textCol).withColumn("eval_name", lit(name))
    }.reduce(_ unionByName _)

  /** Span-level duplication audit: for each doc, how many of its distinct
    * word n-gram spans also occur in at least one OTHER doc — the
    * boilerplate/license-header/template detector that document-level
    * dedup (exact or MinHash) cannot see, because a doc that is 30%
    * copied headers and 70% fresh text is nowhere near any whole-doc
    * similarity threshold. Complements [[repetitionStats]] (q68), which
    * measures WITHIN-doc repetition; this measures CROSS-doc span reuse.
    *
    * Returns one row per doc: `(doc_id, source, n_grams, dup_grams)`
    * where `n_grams` counts the doc's distinct spans and `dup_grams`
    * those with corpus document-frequency ≥ 2. Docs shorter than `n`
    * tokens have no spans and are absent. All-integer outputs — ratios
    * and thresholds stay exact and engine-portable downstream.
    *
    * Scale design: per-doc `array_distinct` BEFORE the explode caps each
    * doc's contribution at its span count; the document-frequency count
    * is one `groupBy(gram)` with map-side partial aggregation (a gram
    * shared by millions of docs is still just a counter, never a pair
    * explosion — the all-pairs trap this formulation exists to avoid);
    * the rejoin back to spans is keyed on the same gram hash. Two
    * data-sized shuffles total (gram, then doc), each on a key whose
    * cardinality grows with the corpus.
    */
  /** @param hashGrams production mode: shuffle 8-byte `xxhash64(gram)`
    *        keys instead of the gram strings. The two gram-keyed
    *        exchanges otherwise carry ~n× the corpus text; hashing cuts
    *        their payload by an order of magnitude at the cost of a
    *        ~p²/2^65 birthday collision chance per gram pair — noise for
    *        an audit metric, so the sf0.1 bench times this mode while the
    *        oracle gate (q90) keeps the engine-portable string keys.
    *        Gated in CurationOpsSuite: hashed == string output at test SF.
    */
  def dupSpanStats(docs: DataFrame, n: Int = 6,
                   hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, s"dupSpanStats: span width must be >= 2, got $n")
    val raw = explodedGrams(docs, n, Seq("doc_id", "source"),
      distinctPerDoc = true)
    // both the df aggregation and the rejoin consume the gram stream; in
    // hashed mode its rows are (doc_id, source, long) — far smaller than
    // the text they derive from — so a lazy checkpoint pays the
    // ngram+distinct+explode CPU once. String mode deliberately keeps
    // recompute: storing string grams is ~n× the corpus text, exactly the
    // block footprint a 100 TB run cannot afford.
    val spans = if (hashGrams)
      raw.select(col("doc_id"), col("source"), xxhash64(col("gram")).as("gram"))
        .localCheckpoint(false)
    else raw
    val df = spans.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
    spans.join(df, "gram")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") > 1, 1)).as("dup_grams"))
  }

  /** Span-level dedup REMOVAL — the action companion to the
    * [[dupSpanStats]] audit: rewrite each document dropping every token
    * covered by a cross-doc duplicated n-gram span (a span is duplicated
    * when its gram occurs in ≥2 distinct docs). This is the
    * training-data span dedup that whole-doc dedup cannot do: a doc that
    * is 30% license header keeps its 70% fresh text instead of being
    * kept (with the boilerplate) or dropped (with the fresh text).
    *
    * Returns `(doc_id, source, n_tokens, n_removed, clean_text)`;
    * `clean_text` is the surviving tokens re-joined in order. Docs with
    * fewer than `n` tokens pass through unchanged.
    *
    * Scale design: three exchanges, none carrying text — (1) the
    * corpus-df aggregation over map-side per-doc-DISTINCT grams (partial
    * agg; `hashGrams` shrinks the key to 8 bytes, q93's trade), (2) the
    * positioned gram stream joined to the duplicated-gram set keyed on
    * the gram (both sides gram-derived; only (doc_id, pos) survives),
    * (3) the per-doc start-position sets rejoined to the docs by id.
    * The rebuild itself is a pure column expression over the token
    * array + start set: each position is kept unless some start `s`
    * covers it (`s <= p <= s+n-1`) — O(tokens × dup-starts) per row,
    * map-side, no UDF.
    *
    * @param hashGrams join/df on `xxhash64(gram)` instead of the string
    *        (production tier — same payload trade as [[dupSpanStats]];
    *        a ~p²/2^65 birthday collision could remove an extra span,
    *        so the exact tier keeps the oracle; suite gates equality)
    */
  def dedupSpans(docs: DataFrame, n: Int = 6,
                 hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, s"dedupSpans: span width must be >= 2, got $n")
    // THREE consumers reference the tokenized corpus (positioned gram
    // stream, df aggregation, rebuild join) — without a cut each would
    // re-run the scan + split. A lazy local checkpoint stores (doc_id,
    // source, tokens) once — the same corpus-sized-store-for-multi-
    // reference trade as jaccardPairs' token-set checkpoint (cluster:
    // durable checkpoint / staging table).
    val toks = docs.select(col("doc_id"), col("source"),
      tokens(col("text")).as("__toks"))
      .localCheckpoint(false)
    val gramKey = (g: Column) => if (hashGrams) xxhash64(g) else g
    val gramPos = positionedGrams(toks, n, gramKey)
    // corpus df over per-doc DISTINCT grams (the q90 df definition);
    // array_distinct BEFORE explode keeps the distinct map-side. Built
    // from `toks`, not the raw docs, so this scan reuses the already-
    // materialized token arrays instead of re-splitting the corpus
    val dupGrams = toks
      .select(explode(array_distinct(
        wordNgramsOfTokens(col("__toks"), n))).as("gram"))
      .select(gramKey(col("gram")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select(col("gram"))
    val dupStarts = gramPos
      .join(dupGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("__starts"))
    rebuildWithoutCoverage(toks.join(dupStarts, Seq("doc_id"), "left_outer"),
      n, carryCols = Seq("source"))
  }

  /** The span-removal rewrite kernel shared by [[dedupSpans]] and
    * [[dedupSpansIncrementalRewrite]]: given `(doc_id, carry…, __toks,
    * __starts?)` rows, drop every token under some start's `[s, s+n-1]`
    * coverage and emit `(doc_id, carry…, n_tokens, n_removed,
    * clean_text)` — a pure column expression, O(tokens × dup-starts)
    * per row, map-side, no UDF. */
  private def rebuildWithoutCoverage(toksWithStarts: DataFrame, n: Int,
                                     carryCols: Seq[String]): DataFrame = {
    val starts = coalesce(col("__starts"), array().cast("array<int>"))
    // coverage as ONE set difference, not a per-position containment
    // scan: the old `filter(sequence, p => filter(starts, …))` nested
    // `starts` INSIDE the position lambda, so when __starts is an
    // inlined expression (the serve tier's gram_set_starts — attributes
    // survive, expressions get CollapseProject'd into the lambda) it
    // re-evaluated per token position — O(tokens²·probe) per doc,
    // measured 3× the batch tier at sf0.1. Here `starts` is the input
    // of ONE outer transform (evaluated once per row however it is
    // inlined), the covered positions flatten to a single array, and
    // array_except preserves the ascending sequence order — identical
    // kept set, O(tokens + starts·n) per doc for BOTH tiers.
    val keptPos = array_except(sequence(lit(1), size(col("__toks"))),
      flatten(transform(starts, s => sequence(s, s + (n - 1)))))
    toksWithStarts
      // kept positions materialize once (own projection): the coverage
      // filter is the kernel and is consumed by both n_removed and the
      // rebuild
      .select(col("doc_id") +: carryCols.map(col) :+ col("__toks") :+
        keptPos.as("__kept"): _*)
      .select(col("doc_id") +: carryCols.map(col) :+
        size(col("__toks")).cast("bigint").as("n_tokens") :+
        (size(col("__toks")) - size(col("__kept"))).cast("bigint")
          .as("n_removed") :+
        concat_ws(" ",
          transform(col("__kept"), p => element_at(col("__toks"), p)))
          .as("clean_text"): _*)
  }

  /** MAXIMAL duplicated-span extraction — the exact-substring-dedup
    * reporting surface ([[dupSpanStats]] counts duplicated fixed-width
    * grams; [[dedupSpans]] removes their coverage; this names the
    * maximal verbatim spans themselves): merge the per-doc duplicated
    * n-gram starts into maximal islands of contiguous coverage and emit
    * one row per island, `(doc_id, span_start, span_len)` — a 40-token
    * block shared by two docs reports ONCE as a 40-token span, not as
    * 35 six-gram hits. Span bounds are 1-based token positions; a
    * start's gram covers `[start, start+n-1]`, and two starts belong to
    * the same island when the later one begins within or immediately
    * after the earlier one's coverage (gap ≤ n).
    *
    * This is the public exact-substring dedup formulation (suffix-style
    * maximal match surfaced through fixed-width gram seeds): every
    * token of a reported span lies under some cross-doc duplicated
    * n-gram, and maximality holds on both sides because the island
    * merge is exhaustive per doc.
    *
    * Scale design: identical exchange shape to [[dedupSpans]] — the
    * corpus-df aggregation (map-side per-doc-distinct, partial agg),
    * the gram-keyed semi-join (only `(doc_id, pos)` survives), and one
    * per-doc `collect_set`. The island merge itself is a PURE COLUMN
    * EXPRESSION over the sorted start array (boundary indices where the
    * gap to the previous start exceeds `n`, then one `transform` +
    * `explode`) — no window function, no per-row shuffle, O(starts) per
    * doc, map-side after the doc-keyed exchange. `hashGrams` is the
    * same 8-byte-key production trade as [[dedupSpans]].
    */
  def maximalDupSpans(docs: DataFrame, n: Int = 6,
                      hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, s"maximalDupSpans: span width must be >= 2, got $n")
    // two consumers of the tokenized corpus (positioned stream + df agg)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .localCheckpoint(false)
    val gramKey = (g: Column) => if (hashGrams) xxhash64(g) else g
    val gramPos = positionedGrams(toks, n, gramKey)
    val dupGrams = toks
      .select(explode(array_distinct(
        wordNgramsOfTokens(col("__toks"), n))).as("gram"))
      .select(gramKey(col("gram")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1).select(col("gram"))
    islandsOf(gramPos.join(dupGrams, Seq("gram"), "left_semi"), n)
  }

  /** The positioned gram stream `(doc_id, pos, gram)` (pos 1-based) of a
    * tokenized frame — shared by the span family and its persisted
    * index. */
  private[graft] def positionedGrams(toks: DataFrame, n: Int,
                              gramKey: Column => Column): DataFrame =
    // posexplode over the codegen'd gram kernel (r18): same (pos, gram)
    // rows as the previous struct-building transform lambda — posexplode's
    // 0-based index + 1 IS the old 1-based sequence position — without the
    // per-gram interpreted struct allocation
    toks
      .select(col("doc_id"),
        posexplode(wordNgramsOfTokens(col("__toks"), n)).as(Seq("__p0", "gram")))
      .select(col("doc_id"), (col("__p0") + 1).as("pos"),
        gramKey(col("gram")).as("gram"))

  /** Merge a duplicated-position stream `(doc_id, pos)` into maximal
    * per-doc islands — ONE per-doc collect_set exchange, then the
    * map-side gaps-and-islands array expression (no window). */
  private[graft] def islandsOf(dupPos: DataFrame, n: Int): DataFrame = {
    val starts = dupPos
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("__ss"))
    // map-side gaps-and-islands: boundary = 1-based indices into __ss
    // where an island begins (first start, or gap to previous start > n)
    // `when` (not `||`): the i-1 lookup must not evaluate at i = 1 —
    // element_at rejects index 0 outright, and codegen'd Or evaluates
    // both sides
    val boundaries = filter(sequence(lit(1), size(col("__ss"))),
      i => when(i === 1, lit(true)).otherwise(
        element_at(col("__ss"), i) - element_at(col("__ss"), i - 1) > n))
    starts
      .select(col("doc_id"), col("__ss"), boundaries.as("__b"))
      .select(col("doc_id"), explode(transform(col("__b"), (b, k) => {
        // island k spans __ss elements [b, nextBoundary-1]; the last
        // island runs to the end of the start array (try_element_at:
        // the k+2 lookup walks past the boundary array there)
        val lastIdx =
          coalesce(try_element_at(col("__b"), k + 2), size(col("__ss")) + 1) - 1
        struct(
          element_at(col("__ss"), b).as("s"),
          (element_at(col("__ss"), lastIdx) - element_at(col("__ss"), b) + n)
            .as("l"))
      })).as("sp"))
      .select(col("doc_id"),
        col("sp.s").cast("bigint").as("span_start"),
        col("sp.l").cast("bigint").as("span_len"))
  }

  /** Corpus duplication MASS by source — the headline number of the
    * exact-substring-dedup literature (what fraction of a source's
    * tokens sit inside cross-doc verbatim spans): Σ maximal-island
    * coverage ([[maximalDupSpans]] — islands are disjoint per doc, so
    * the sum IS the covered-token count, never an overcount of
    * overlapping gram hits) over the source's total tokens. The number
    * that decides whether a source needs span-level dedup at all, and
    * the before/after metric for it.
    *
    * Scale shape: [[maximalDupSpans]]' exchanges plus one
    * |sources|-row aggregate; the corpus token count rides the same
    * tokenized projection the span path already scans.
    */
  def dupMassBySource(docs: DataFrame, n: Int = 6,
                      hashGrams: Boolean = false): DataFrame = {
    val perDoc = maximalDupSpans(docs, n, hashGrams)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_len")).as("__dup"))
    docs.select(col("doc_id"), col("source"),
        tokenCount(col("text")).as("__n"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .groupBy(col("source"))
      .agg(sum(col("__n")).cast("bigint").as("total_tokens"),
        sum(coalesce(col("__dup"), lit(0L))).cast("bigint").as("dup_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6))
  }

  /** CONTENT-DEFINED CHUNKING (CDC) — the rsync/LBFS boundary rule
    * applied to text dedup: split each document where a rolling hash of
    * the trailing `w` characters satisfies `h % modSel == 0`, so chunk
    * boundaries are a function of CONTENT, not offsets — an insertion
    * near the top of a doc shifts every fixed-width window but leaves
    * all later CDC chunks identical, which is exactly what lets
    * chunk-digest dedup catch a boilerplate block at ANY offset (the
    * failure mode of offset-based chunking, and the byte-level
    * complement of the token-n-gram span family: spans see token
    * overlap, CDC sees verbatim byte runs across REFORMATTED docs whose
    * tokenization shifted).
    *
    * Emits one row per chunk: `(doc_id, chunk_idx, chunk_start,
    * chunk_len, digest)` — start 1-based, digest = md5 of the chunk
    * text (engine-portable, the [[graft.operators.Pipeline.shardAssign]]
    * discipline). A doc with no boundary is one chunk; expected chunk
    * length ≈ `modSel` characters. Production CDC adds min/max clamps;
    * this declarative tier keeps the pure boundary rule (the clamp is a
    * second filter over the same boundary array).
    *
    * Scale shape: one `mapPartitions` pass — the dHash/WAV-decode
    * discipline for per-doc imperative kernels: a tight O(n·w)
    * primitive loop per doc, one MessageDigest reused per partition,
    * only (id, idx, start, len, 32-char digest) rows out. Zero
    * exchanges; downstream dedup groups by the digest, never the text.
    * (A declarative array-lambda formulation was measured 30×+ slower:
    * Spark's higher-order functions are CodegenFallback — per-position
    * interpreted lambda evaluation is exactly the hot-path trap the
    * repo's no-UDF rule exists to avoid, and an interpreted HOF is no
    * better than the UDF it replaces.)
    */
  def cdcChunks(docs: DataFrame, w: Int = 8, modSel: Int = 32,
                textCol: String = "text"): DataFrame =
    cdcChunksKernel(docs, w, modSel, minLen = 1, maxLen = Int.MaxValue, textCol)

  /** Per-document CDC chunk rows — ONE boundary-rule definition shared by
    * the batch kernel and the streaming twin (the
    * [[graft.operators.Multimodal]] `audioBands` discipline: a stream
    * replay must reproduce the batch chunk topology exactly). Returns
    * `(chunk_idx, chunk_start 1-based, chunk_len, digest)` tuples; a null
    * text yields no rows (the explode-of-null rule — a typed kernel
    * doesn't inherit SQL null semantics, and an NPE would kill the job).
    *
    * `minLen`/`maxLen` are the production FastCDC/rsync clamps: boundary
    * candidates closer than `minLen` to the chunk start are SKIPPED, and
    * a boundary is FORCED once the chunk reaches `maxLen` — bounding both
    * the per-chunk work and the digest-row blowup of pathological content
    * (a doc of repeated boundary patterns, or one with none). The pure
    * tier is the identity clamp `(1, ∞)`: every candidate cuts, nothing
    * forces — byte-identical to the unclamped recurrence. The final chunk
    * always ends at the text end (and may be shorter than `minLen`).
    */
  private[graft] def cdcChunkRowsOf(text: String, w: Int, modSel: Int,
      minLen: Int, maxLen: Int,
      md: java.security.MessageDigest): Iterator[(Long, Long, Long, String)] = {
    if (text == null) return Iterator.empty
    def hex(b: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(32)
      var i = 0
      while (i < b.length) {
        sb.append(Character.forDigit((b(i) >> 4) & 0xF, 16))
        sb.append(Character.forDigit(b(i) & 0xF, 16))
        i += 1
      }
      sb.toString
    }
    val n = text.length
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var e = 0 // 0-based exclusive end of the previous chunk
    var p = 1
    while (p <= n) {
      // force-first: at exactly maxLen the chunk cuts whether or not the
      // content rule fires (the rsync/FastCDC max clamp); under minLen
      // the content rule is skipped WITHOUT computing the hash
      if (p - e == maxLen) { ends += p; e = p }
      else if (p - e >= minLen && p >= w) {
        // trailing-w rolling hash, the recurrence the oracle replays
        var h = 0L
        var j = p - w
        while (j < p) { h = (h * 31 + text.charAt(j)) % 1000003L; j += 1 }
        if (h % modSel == 0) { ends += p; e = p }
      }
      p += 1
    }
    if (ends.isEmpty || ends.last != n) ends += n
    var prev = 0
    ends.iterator.zipWithIndex.map { case (end, k) =>
      val startIdx = prev
      prev = end
      md.reset()
      val digest = hex(md.digest(
        text.substring(startIdx, end)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      (k.toLong, (startIdx + 1).toLong, (end - startIdx).toLong, digest)
    }
  }

  private def cdcChunksKernel(docs: DataFrame, w: Int, modSel: Int,
                              minLen: Int, maxLen: Int,
                              textCol: String): DataFrame = {
    require(w >= 2, s"cdcChunks: window must be >= 2, got $w")
    require(modSel >= 2, s"cdcChunks: modSel must be >= 2, got $modSel")
    require(minLen >= 1, s"cdcChunks: minLen must be >= 1, got $minLen")
    require(maxLen >= minLen,
      s"cdcChunks: maxLen ($maxLen) must be >= minLen ($minLen)")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          cdcChunkRowsOf(text, w, modSel, minLen, maxLen, md)
            .map { case (k, start, len, digest) => (id, k, start, len, digest) }
        }
      }
      .toDF("doc_id", "chunk_idx", "chunk_start", "chunk_len", "digest")
  }

  /** PRODUCTION tier of [[cdcChunks]] — the FastCDC/rsync min/max
    * clamps on the same boundary recurrence: candidates closer than
    * `minLen` to the chunk start are skipped (bounding the digest-row
    * blowup of content whose rolling hash fires everywhere), and a cut
    * is FORCED at `maxLen` (bounding per-chunk work and chunk size for
    * content with no boundary at all — both pathologies exist in a
    * 100 TB crawl). Expected chunk length stays ≈ `modSel` between the
    * clamps; the final chunk may still be shorter than `minLen` (it ends
    * at the text end). Same output schema and scale shape as the pure
    * tier: one mapPartitions pass, zero exchanges. */
  def cdcChunksClamped(docs: DataFrame, w: Int = 8, modSel: Int = 32,
                       minLen: Int = 16, maxLen: Int = 64,
                       textCol: String = "text"): DataFrame =
    cdcChunksKernel(docs, w, modSel, minLen, maxLen, textCol)

  /** Cross-doc duplicated CDC chunks: digests appearing in ≥ 2 distinct
    * docs, with copy counts and the min-id canonical — the
    * [[graft.operators.Multimodal.audioDedupGroups]] shape over
    * content-defined text chunks. One partial-aggregated shuffle of
    * 16-byte digests. */
  def cdcDupChunks(docs: DataFrame, w: Int = 8, modSel: Int = 32,
                   textCol: String = "text"): DataFrame =
    cdcChunks(docs, w, modSel, textCol)
      .groupBy(col("digest"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical_id"),
        max(col("chunk_len")).as("chunk_len"))
      .filter(col("n_docs") >= 2)

  /** CDC near-dup DOC pairs — the FastCDC dedup application on top of
    * [[cdcChunks]]: candidate pairs share ≥ 1 chunk digest (never
    * all-pairs — the digest IS the bucket, with the standing
    * `maxBucketSize` prospective skew cap silencing a boilerplate chunk
    * shared by thousands of docs), evidence = number of shared DISTINCT
    * digests and the containment fraction vs the a-side's chunk count
    * (the [[graft.operators.Multimodal]] videoNearDup `n_key`
    * denominator discipline: the count rides the chunk rows, no corpus
    * join-back). Pairs with `shared_frac ≥ minFrac` emit oriented
    * `doc_a < doc_b`.
    *
    * Scale shape: one digest-keyed self-join of (digest, doc, n_chunks)
    * rows — 16-byte keys, text never travels — then a pair-keyed
    * partial aggregation; the cap bounds any digest's contribution at
    * cap² pairs.
    */
  def cdcNearDupPairs(docs: DataFrame, w: Int = 8, modSel: Int = 32,
                      maxBucketSize: Int = 64, minFrac: Double = 0.25,
                      textCol: String = "text"): DataFrame = {
    require(minFrac >= 0.0 && minFrac <= 1.0, s"bad minFrac $minFrac")
    // ONE definition of the capped digest frame — the same
    // [[cdcDigestFrame]] the persisted index builds from, so the
    // suite-gated "build + ingests ≡ full run" identity can never drift
    // between two hand-kept copies (the db partition bucket is a pure
    // rider; dropping it leaves the frame this join always used)
    val chunks = cdcDigestFrame(docs, w, modSel, maxBucketSize, textCol)
      .drop("db")
    chunks.alias("a").join(chunks.alias("b"),
        col("a.digest") === col("b.digest") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_key").as("n_key_a"), col("b.n_key").as("n_key_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_key_a"), 6))
      .filter(col("shared_frac") >= minFrac)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_key_a"), col("n_key_b"), col("shared_frac"))
  }

  /** Digest prefix bucket (0..63) — the partition key of the persisted
    * CDC chunk-digest index, the `grams/gb` layout discipline: a probe
    * touching few digests reads few directories. The digest is already
    * an md5 hex string, so its prefix IS a uniform hash — no re-hash. */
  private def digestBucketCol(digest: Column): Column =
    (conv(substring(digest, 1, 8), 16, 10).cast("long") % 64).cast("int")

  /** The (doc, digest) frame both the index build and the probe share:
    * distinct chunk digests per doc, the per-doc chunk-type count rider
    * (bounded by document length), the prospective digest cap
    * ([[graft.operators.Dedup.capByKey]] — applied per GENERATION, the
    * standing incremental contract), and the `db` partition bucket.
    *
    * The per-doc distinct + count are computed INSIDE the chunking task
    * (r19): a document's chunk rows are born task-local in the
    * [[cdcChunkRowsOf]] flatMap, so `distinct (doc_id, digest)` and the
    * per-doc digest-type count are a per-document hash set — no data
    * leaves the task. The declarative form this replaces paid two full
    * exchanges for the same rows (a distinct shuffle of every chunk row
    * and a doc_id window shuffle for `n_key`), both scaling with corpus
    * chunk count at 100 TB. capByKey's digest-keyed aggregation is the
    * frame's first (and now only) exchange. */
  private def cdcDigestFrame(docs: DataFrame, w: Int, modSel: Int,
                             maxBucketSize: Int, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val perDoc = docs.select(col("doc_id").cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { case (id, text) =>
          // LinkedHashSet: first-occurrence order keeps the kernel
          // deterministic (row order is not load-bearing downstream, but
          // determinism keeps plan-for-plan reruns byte-stable)
          val seen = new java.util.LinkedHashSet[String]()
          cdcChunkRowsOf(text, w, modSel, 1, Int.MaxValue, md)
            .foreach { case (_, _, _, digest) => seen.add(digest) }
          val n = seen.size.toLong
          scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator())
            .asScala.map(d => (id, d, n))
        }
      }
      .toDF("doc_id", "digest", "n_key")
    Dedup.capByKey(perDoc, Seq("digest"), maxBucketSize)
      .withColumn("db", digestBucketCol(col("digest")))
  }

  /** Persist the CDC chunk-digest index at `dir/digests` — the nightly
    * artifact that gives the CDC family the q74/q81/q117/q134/q146
    * incremental discipline: 16-byte digests + per-doc counts, never
    * text, partitioned by the digest prefix bucket so an ingest probe
    * partition-prunes to the directories its own digests touch.
    * [[cdcNearDupIngest]] probes AND grows it. */
  def buildCdcIndex(docs: DataFrame, dir: String, w: Int = 8,
                    modSel: Int = 32, maxBucketSize: Int = 64,
                    textCol: String = "text"): Unit =
    cdcDigestFrame(docs, w, modSel, maxBucketSize, textCol)
      // one writing task per db value — see [[buildSpanIndex]]'s
      // file-fan-out note
      .repartition(col("db"))
      .write.mode("overwrite").partitionBy("db").parquet(s"$dir/digests")

  /** Incremental CDC near-dup — [[cdcNearDupPairs]]' daily-ingest twin
    * against the persisted index at `dir`: every (corpus, batch) and
    * (batch, batch) pair sharing ≥ 1 chunk digest with `shared_frac ≥
    * minFrac`, oriented `doc_a < doc_b`. The already-ingested corpus
    * participates ONLY through its index rows (its text is never
    * re-chunked, and corpus×corpus pairs — found at their own ingest —
    * are never recomputed), so daily work is ∝ batch size: the batch is
    * chunked once, its distinct digests select the touched `db`
    * directories (partition-pruned read), and the join keys are 16-byte
    * digests. Corpus and batch doc ids are disjoint by contract; the
    * digest cap applies per generation (index capped at build, batch
    * caps within itself). If `append`, the batch's digest rows join the
    * index (parquet append — crash-safe per
    * [[graft.operators.Multimodal.imageNearDupIngest]]'s note), so
    * consecutive ingests self-sustain: build ∪ ingests ≡
    * [[cdcNearDupPairs]] on the union corpus (suite-gated).
    */
  def cdcNearDupIngest(batch: DataFrame, dir: String, w: Int = 8,
                       modSel: Int = 32, maxBucketSize: Int = 64,
                       minFrac: Double = 0.25, append: Boolean = true,
                       textCol: String = "text"): DataFrame = {
    require(minFrac >= 0.0 && minFrac <= 1.0, s"bad minFrac $minFrac")
    val spark = batch.sparkSession
    // referenced by the touched-db collect, both pair legs, and the
    // append — capByKey inside cdcDigestFrame stores the digest rows, so
    // the batch text is chunked once and each reference replays only its
    // cheap anti-join
    val probe = cdcDigestFrame(batch, w, modSel, maxBucketSize, textCol)
    val touched = probe.select(col("db")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val index = spark.read.parquet(s"$dir/digests")
      .filter(col("db").isin(touched: _*))
    // cross pairs: orientation by id (generations are disjoint but the
    // contract does not order them, so each side's rider follows the flip)
    val aIsLow = col("a.doc_id") < col("b.doc_id")
    val cross = index.alias("a").join(probe.alias("b"),
        col("a.digest") === col("b.digest"))
      .select(
        when(aIsLow, col("a.doc_id")).otherwise(col("b.doc_id")).as("doc_a"),
        when(aIsLow, col("b.doc_id")).otherwise(col("a.doc_id")).as("doc_b"),
        when(aIsLow, col("a.n_key")).otherwise(col("b.n_key")).as("n_key_a"),
        when(aIsLow, col("b.n_key")).otherwise(col("a.n_key")).as("n_key_b"))
    val within = probe.alias("a").join(probe.alias("b"),
        col("a.digest") === col("b.digest") && aIsLow)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_key").as("n_key_a"), col("b.n_key").as("n_key_b"))
    // results materialize BEFORE the append mutates `dir` under the
    // lazy probe plan
    val out = cross.unionAll(within)
      .groupBy(col("doc_a"), col("doc_b"), col("n_key_a"), col("n_key_b"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("shared_frac",
        round(col("n_shared").cast("double") / col("n_key_a"), 6))
      .filter(col("shared_frac") >= minFrac)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_key_a"), col("n_key_b"), col("shared_frac"))
      .localCheckpoint(true)
    if (append) probe.write.mode("append").partitionBy("db")
      .parquet(s"$dir/digests")
    out
  }

  private def gramBucketCol(gram: Column, hashGrams: Boolean): Column =
    if (hashGrams) pmod(gram, lit(64L)).cast("int")
    else (graft.functions.HashFunctions.md5_prefix(gram, 8) % 64).cast("int")

  /** Persisted SPAN INDEX — the nightly artifact that makes
    * [[maximalDupSpans]] incremental (the `tokenIndex`/`videoBandIndex`
    * discipline applied to the exact-substring surface). Layout, all
    * parquet:
    *  - `grams/` PARTITIONED BY gb (md5-prefix gram bucket): one
    *    `(gram, df, solo_doc_id)` row per build/increment generation —
    *    readers aggregate `sum(df)`; `solo_doc_id` names the single
    *    containing doc while a gram is still unique (df 1), which is
    *    what lets an increment find RETROACTIVELY affected corpus docs
    *    without any gram→doc scan.
    *  - `pos/` PARTITIONED BY db (`doc_id % 64`): the positioned gram
    *    stream `(doc_id, pos, gram)` — read only for affected docs,
    *    pruned to their db directories.
    * Appends are generation rows ([[graft.operators.Pipeline
    * .compactArtifact]] bounds the file count); `hashGrams` stores
    * 8-byte keys (production tier — the exact tier keeps engine-portable
    * strings for the oracle, the q90/q93 split).
    */
  def buildSpanIndex(docs: DataFrame, dir: String, n: Int = 6,
                     hashGrams: Boolean = false): Unit = {
    require(n >= 2, s"buildSpanIndex: span width must be >= 2, got $n")
    val gk = (g: Column) => if (hashGrams) xxhash64(g) else g
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .localCheckpoint(false)
    // one writing task per partition value (r19): without the
    // repartition, every upstream task holds rows of MANY db/gb values
    // and partitionBy writes tasks × dirs tiny files — the probe side
    // then pays a file-open per fragment on every read (measured at
    // sf0.1: the q146 corpus-df probe spent ~0.7 s mostly opening
    // shuffle-partitions × 64 fragments). Same discipline as
    // [[graft.operators.Pipeline.compactArtifact]]'s consolidation; the
    // build is the nightly job, so the extra shuffle is the right trade.
    positionedGrams(toks, n, gk)
      .withColumn("db", pmod(col("doc_id"), lit(64L)).cast("int"))
      .repartition(col("db"))
      .write.mode("overwrite").partitionBy("db").parquet(s"$dir/pos")
    toks.select(col("doc_id"), explode(array_distinct(
        wordNgramsOfTokens(col("__toks"), n))).as("g0"))
      .select(col("doc_id"), gk(col("g0")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("solo_doc_id"))
      .withColumn("solo_doc_id",
        when(col("df") === 1, col("solo_doc_id")))
      .withColumn("gb", gramBucketCol(col("gram"), hashGrams))
      .repartition(col("gb"))
      .write.mode("overwrite").partitionBy("gb").parquet(s"$dir/grams")
  }

  /** Incremental maximal-span extraction: the spans arising from `batch`
    * against the index at `dir` — `(doc_id, span_start, span_len,
    * generation)` where generation `batch` rows are the batch docs'
    * spans under the UNION corpus's df, and `retro` rows are the FULL
    * recomputed span sets of corpus docs whose previously-unique gram
    * the batch just duplicated (consumers keep the latest span set per
    * doc — a retro emission replaces the doc's earlier spans, since new
    * dup positions can merge old islands into longer ones). Batch ∪
    * retro ∪ untouched build-time spans ≡ [[maximalDupSpans]] on the
    * union corpus (suite-gated); batch ids disjoint from indexed
    * generations, the standing incremental contract.
    *
    * Scale shape — work ∝ batch, never corpus: the batch gram stream's
    * corpus-df lookup reads only its grams' `gb` directories of
    * `grams/` (partition-pruned, then a gram-keyed join); affected docs
    * come from the `solo_doc_id` RIDER (no gram→doc scan exists
    * anywhere); their full start sets read only their `db` directories
    * of `pos/`. The driver sees only the (small) affected-id set.
    * If `append`, the batch's positions and per-gram df generation rows
    * are appended so the next increment sees them
    * ([[graft.operators.Multimodal.imageNearDupIngest]]'s crash note:
    * append-only parquet needs no staged swap).
    */
  def dupSpansIncremental(batch: DataFrame, dir: String, n: Int = 6,
                          hashGrams: Boolean = false,
                          append: Boolean = true): DataFrame = {
    require(n >= 2, s"dupSpansIncremental: span width must be >= 2, got $n")
    val spark = batch.sparkSession
    val gk = (g: Column) => if (hashGrams) xxhash64(g) else g
    val toksB = batch.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .localCheckpoint(false)
    val gramPosB = positionedGrams(toksB, n, gk).localCheckpoint(false)
    val dfB = toksB.select(col("doc_id"), explode(array_distinct(
        wordNgramsOfTokens(col("__toks"), n))).as("g0"))
      .select(col("doc_id"), gk(col("g0")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("dfb"), min(col("doc_id")).as("solo_doc_id"))
      .withColumn("gb", gramBucketCol(col("gram"), hashGrams))
      .localCheckpoint(false) // feeds the df join, the retro join, the append
    val touchedGb = dfB.select(col("gb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // the LIVE solo rider is set algebra over generations, not a min: a
    // forgotten doc's 1 → 0 → 1 history leaves its stale df=1 rider in
    // grams/, and min() would shadow the later live rider
    // ([[forgetFromSpanIndex]] writes its negative generations WITH the
    // forgotten id so the except can cancel it). Rider sets are tiny —
    // only df=1 generations carry one — so the arrays are O(#gens).
    // gram-level pre-filter BEFORE the per-gram aggregation (r19): the
    // partition prune is bucket-granular (1/64), so the touched
    // directories still hold every gram sharing a bucket with the batch —
    // but corpusDf is only ever consumed through the dfB-keyed join
    // below, so index rows for non-batch grams are dead weight in the
    // aggregation. The batch gram set is batch-sized by contract:
    // broadcast it and semi-join the pruned scan down to batch grams
    // before grouping. At 100 TB this is the difference between
    // aggregating a 64th of the corpus index and aggregating ~the batch.
    val corpusDf = spark.read.parquet(s"$dir/grams")
      .filter(col("gb").isin(touchedGb: _*))
      .join(broadcast(dfB.select(col("gram"))), Seq("gram"), "left_semi")
      .groupBy(col("gram"))
      .agg(sum(col("df")).as("dfc"),
        array_except(
          collect_set(when(col("df") > 0, col("solo_doc_id"))),
          collect_set(when(col("df") < 0, col("solo_doc_id")))).as("__solos"))
      .withColumn("solo",
        when(size(col("__solos")) === 1, col("__solos")(0)))
    val joined = dfB.join(corpusDf, Seq("gram"), "left_outer")
      .select(col("gram"), col("dfb"), coalesce(col("dfc"), lit(0L)).as("dfc"),
        col("solo"))
      .localCheckpoint(false) // feeds batch-dup grams AND the newly set
    val dupForBatch = joined.filter(col("dfb") + col("dfc") >= 2)
      .select(col("gram"))
    val batchSpans = islandsOf(
        gramPosB.join(dupForBatch, Seq("gram"), "left_semi"), n)
      .withColumn("generation", lit("batch"))
    // retroactively affected corpus docs: their previously-UNIQUE gram
    // (dfc = 1, live solo rider) just gained a batch occurrence. The
    // isNotNull guard matters after [[forgetFromSpanIndex]]: a df 2 → 1
    // decrement leaves no rider at all (conservative — that doc's retro
    // span is missed, never misattributed; getLong on a null row would
    // silently read doc 0). The 1 → 0 → 1 history — forget the solo
    // owner, then a later append restores the gram — IS handled: the
    // negative generation carries the forgotten id, the rider
    // set-algebra above cancels its stale rider, and the surviving
    // rider is the live doc's.
    val affectedIds = joined
      .filter(col("dfc") === 1 && col("dfb") >= 1 && col("solo").isNotNull)
      .select(col("solo")).distinct().collect().map(_.getLong(0)).toSeq
    val out =
      if (affectedIds.isEmpty) batchSpans
      else {
        val touchedDb = affectedIds.map(id => (id % 64).toInt).distinct
        val affPos = spark.read.parquet(s"$dir/pos")
          .filter(col("db").isin(touchedDb: _*) &&
            col("doc_id").isin(affectedIds: _*))
          .localCheckpoint(false) // feeds its own gb set + the islands
        val affGb = affPos
          .select(gramBucketCol(col("gram"), hashGrams).as("gb"))
          .distinct().collect().map(_.getInt(0)).toSeq
        // same gram-level pre-filter as the batch leg: dupForAff is
        // consumed only semi-joined against affPos, so index rows for
        // grams outside the affected docs' streams never matter
        val corpusDfAff = spark.read.parquet(s"$dir/grams")
          .filter(col("gb").isin(affGb: _*))
          .join(broadcast(affPos.select(col("gram")).distinct()),
            Seq("gram"), "left_semi")
          .groupBy(col("gram")).agg(sum(col("df")).as("dfc2"))
        val dupForAff = corpusDfAff
          .join(dfB.select(col("gram"), col("dfb")), Seq("gram"), "left_outer")
          .filter(col("dfc2") + coalesce(col("dfb"), lit(0L)) >= 2)
          .select(col("gram"))
        val retroSpans = islandsOf(
            affPos.join(dupForAff, Seq("gram"), "left_semi"), n)
          .withColumn("generation", lit("retro"))
        batchSpans.unionByName(retroSpans)
      }
    // materialize BEFORE the append mutates the index under the lazy plan
    val result = out.localCheckpoint(true)
    if (append) {
      gramPosB.withColumn("db", pmod(col("doc_id"), lit(64L)).cast("int"))
        .write.mode("append").partitionBy("db").parquet(s"$dir/pos")
      dfB.select(col("gram"), col("dfb").as("df"),
          when(col("dfb") === 1, col("solo_doc_id")).as("solo_doc_id"),
          col("gb"))
        .write.mode("append").partitionBy("gb").parquet(s"$dir/grams")
    }
    result
  }

  /** Incremental span REMOVAL — the rewrite companion of
    * [[dupSpansIncremental]]'s batch generation ([[dedupSpans]] is the
    * full-corpus formulation): rewrite each BATCH doc dropping every
    * token under a duplicated n-gram's coverage, where "duplicated"
    * counts the UNION corpus (the gram's indexed df plus its batch df)
    * — a batch doc whose license header already exists in the corpus
    * sheds it on ingest, before the doc is ever published. Returns
    * [[dedupSpans]]' row shape for the batch docs. Retroactive corpus
    * rewrites follow from [[dupSpansIncremental]]'s `retro` spans when
    * the pipeline wants them — this op is the ingest-side gate.
    *
    * Scale shape: the probe half of [[dupSpansIncremental]] (touched-gb
    * partition-pruned corpus-df lookup, batch-sized everything else)
    * feeding [[dedupSpans]]' pure-column rebuild kernel (shared
    * `rebuildWithoutCoverage`). Read-only on the index — the report
    * tier owns index growth.
    */
  def dedupSpansIncrementalRewrite(batch: DataFrame, dir: String, n: Int = 6,
                                   hashGrams: Boolean = false): DataFrame = {
    require(n >= 2,
      s"dedupSpansIncrementalRewrite: span width must be >= 2, got $n")
    val spark = batch.sparkSession
    val gk = (g: Column) => if (hashGrams) xxhash64(g) else g
    val toksB = batch.select(col("doc_id"), col("source"),
        tokens(col("text")).as("__toks"))
      .localCheckpoint(false)
    val dfB = toksB.select(col("doc_id"), explode(array_distinct(
        wordNgramsOfTokens(col("__toks"), n))).as("g0"))
      .select(col("doc_id"), gk(col("g0")).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("dfb"))
      .withColumn("gb", gramBucketCol(col("gram"), hashGrams))
      .localCheckpoint(false) // feeds the touched-gb set AND the df join
    val touchedGb = dfB.select(col("gb")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // gram-level pre-filter before the aggregation — see
    // [[dupSpansIncremental]]'s probe note: corpusDf only matters on
    // batch grams, so cut the bucket-pruned scan to them first
    val corpusDf = spark.read.parquet(s"$dir/grams")
      .filter(col("gb").isin(touchedGb: _*))
      .join(broadcast(dfB.select(col("gram"))), Seq("gram"), "left_semi")
      .groupBy(col("gram")).agg(sum(col("df")).as("dfc"))
    val dupForBatch = dfB.join(corpusDf, Seq("gram"), "left_outer")
      .filter(col("dfb") + coalesce(col("dfc"), lit(0L)) >= 2)
      .select(col("gram"))
    val starts = positionedGrams(toksB, n, gk)
      .join(dupForBatch, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("__starts"))
    rebuildWithoutCoverage(toksB.join(starts, Seq("doc_id"), "left_outer"),
      n, carryCols = Seq("source"))
  }

  /** Right-to-be-forgotten for the SPAN INDEX — the deletion pipeline
    * must reach every artifact an id's CONTENT influenced
    * ([[graft.Forget.forget]]'s doctrine), and the span index holds it
    * twice: the doc's positioned grams in `pos/`, and its contribution
    * to every gram's df (plus possibly a `solo_doc_id` naming it) in
    * `grams/`. Mechanics:
    *  - `pos/`: [[graft.operators.Pipeline.pruneArtifact]] by doc id,
    *    partition layout preserved (`db`).
    *  - `grams/`: NEGATIVE generation rows — one `(gram, −1, null)` per
    *    distinct gram of each forgotten doc, derived from the doc's own
    *    db-pruned `pos/` rows BEFORE they are pruned — so the
    *    aggregated `sum(df)` reflects the removal without rewriting the
    *    corpus-sized table (the same generation-row algebra appends
    *    already use).
    * Conservative rider note: a gram whose df drops 2 → 1 has lost its
    * `solo_doc_id` rider (the surviving doc's identity is not derivable
    * without a gram→doc scan), so a FUTURE increment cannot
    * retro-report that surviving doc — it can only MISS a retro span,
    * never emit a wrong one; the next full [[buildSpanIndex]] rebuild
    * restores the rider. Deletion itself is exact either way: the
    * forgotten doc's rows and df contributions are gone, which
    * [[graft.operators.Pipeline.deletionAudit]] on `pos/` proves.
    */
  def forgetFromSpanIndex(ids: DataFrame, dir: String,
                          hashGrams: Boolean = false): Unit = {
    val spark = ids.sparkSession
    val idList = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .na.drop().distinct().localCheckpoint(true)
    val idSeq = idList.collect().map(_.getLong(0)).toSeq
    require(idSeq.nonEmpty, "forgetFromSpanIndex: empty id list")
    // the deletion must cover exactly the submitted list: a null (or,
    // with ANSI off, uncastable) id that na.drop silently removed would
    // make the delete narrower than the request without anyone noticing —
    // the same raw-vs-normalized count check as [[graft.Forget.forget]]
    val rawDistinct = ids.select(col(ids.columns.head)).distinct().count()
    require(rawDistinct == idSeq.size.toLong,
      s"forgetFromSpanIndex: ${rawDistinct - idSeq.size} of $rawDistinct " +
        "distinct delete-list entries are null or not castable to long — " +
        "refusing to delete a narrower list than was submitted")
    val touchedDb = idSeq.map(id => (id % 64).toInt).distinct
    // negative df generations FIRST (derived from pos/ before the
    // prune). The negative row CARRIES the forgotten id as its
    // solo_doc_id so [[dupSpansIncremental]]'s rider set-algebra cancels
    // any stale df=1 rider of this doc — without it, a 1 → 0 → 1 df
    // history (forget, then a later append restores the gram) would
    // leave the forgotten id shadowing the live doc's rider. The id in a
    // negative generation is df ACCOUNTING, not content, the same class
    // as the ids grams/ already exposes (Forget.forget's audit covers
    // pos/, where the positions live).
    spark.read.parquet(s"$dir/pos")
      .filter(col("db").isin(touchedDb: _*) && col("doc_id").isin(idSeq: _*))
      .select(col("doc_id"), col("gram")).distinct()
      .select(col("gram"), lit(-1L).as("df"),
        col("doc_id").as("solo_doc_id"),
        gramBucketCol(col("gram"), hashGrams).as("gb"))
      .write.mode("append").partitionBy("gb").parquet(s"$dir/grams")
    Pipeline.pruneArtifact(idList, s"$dir/pos", "doc_id",
      partitionCols = Seq("db"))
  }

  /** Consolidate the span index's `grams/` generation history — the
    * last algebra-bearing surface of the append-forever family to get a
    * compaction leg (histogram r14, KMV r14): every
    * [[dupSpansIncremental]] append and every [[forgetFromSpanIndex]]
    * adds generation rows, and every future increment's df lookup
    * re-aggregates ALL of them for its touched buckets. Collapses each
    * gram to its NET state under the exact read algebra: `df` sums
    * (net-zero grams drop; net-negative — an over-forget — refuses
    * loudly), and the live rider set (`positives EXCEPT negatives`, the
    * 1 → 0 → 1 rule) is PRESERVED BY DECOMPOSITION — one `(gram, 1,
    * rider)` row per surviving rider plus one riderless remainder row —
    * so a read over consolidated-plus-future generations computes the
    * IDENTICAL (df, rider) state it would have over the full history
    * (suite-gated: increment results and forget-after-consolidation
    * byte-equal). `gb` partitioning is preserved (the pruneArtifact
    * layout rule).
    *
    * Compliance bonus: the negative generations a forget wrote carry
    * the forgotten doc's id as df ACCOUNTING (documented against the
    * audit's scope) — consolidation cancels them against their positive
    * riders, so the forgotten ids stop being physically readable in
    * `grams/` at the next compaction cadence.
    *
    * A history where a gram's rider count exceeds its net df is
    * structurally impossible (each rider is a +1 contribution and
    * negatives cancel riders they name) and refuses loudly rather than
    * fabricating df rows. */
  def consolidateSpanIndexGrams(spark: SparkSession, dir: String): Unit =
    Pipeline.stagedRewrite(spark, s"$dir/grams", "consolidate", Seq("gb")) { df =>
      val rowType = "array<struct<df:bigint,solo_doc_id:bigint>>"
      df.groupBy(col("gb"), col("gram"))
        .agg(sum(col("df")).as("__dfc"),
          array_except(
            collect_set(when(col("df") > 0, col("solo_doc_id"))),
            collect_set(when(col("df") < 0, col("solo_doc_id")))).as("__solos"))
        .withColumn("__dfc", when(col("__dfc") < 0,
            expr("raise_error(CONCAT('consolidateSpanIndexGrams: gram ', " +
              "CAST(gram AS STRING), ' has negative merged df ', " +
              "CAST(__dfc AS STRING), ' - a forget exceeded what was " +
              "built; refusing to bake the corruption in'))").cast("long"))
          .otherwise(col("__dfc")))
        .filter(col("__dfc") =!= 0)
        .withColumn("__rem", col("__dfc") - size(col("__solos")))
        .withColumn("__rem", when(col("__rem") < 0,
            expr("raise_error(CONCAT('consolidateSpanIndexGrams: gram ', " +
              "CAST(gram AS STRING), ' carries more live riders than net " +
              "df - structurally impossible history, refusing'))")
              .cast("long"))
          .otherwise(col("__rem")))
        .select(col("gb"), col("gram"),
          explode(concat(
            transform(col("__solos"),
              r => struct(lit(1L).as("df"), r.as("solo_doc_id")))
              .cast(rowType),
            when(col("__rem") > 0,
              array(struct(col("__rem").as("df"),
                lit(null).cast("long").as("solo_doc_id")))).otherwise(array())
              .cast(rowType))).as("__r"))
        .select(col("gram"), col("__r.df").as("df"),
          col("__r.solo_doc_id").as("solo_doc_id"), col("gb"))
        // one writing task per gb value → ~one file per partition dir:
        // without this, the (gb, gram) shuffle leaves every task holding
        // rows of MANY gb values and partitionBy writes tasks × dirs
        // small files — recreating the pressure the consolidation exists
        // to collapse (and breaking Maintain's auto-cadence floor, which
        // counts one file per leaf dir). gb cardinality is the bucket
        // count (double digits), and this is the nightly rewrite job,
        // not a probe — the per-bucket funnel is the right trade here.
        .repartition(col("gb"))
    }

  /** Build-once memo for the q146 harness query (the q134/q135 memo
    * discipline): the span index of the corpus generation
    * (doc_id >= 250), built once per sf-dir per JVM. Library users call
    * [[buildSpanIndex]] with their own storage. */
  private def cachedSpanIndex(s: SparkSession, d: String): String =
    graft.operators.BuildOnce.dir("graft-span-index", d) { dir =>
      buildSpanIndex(Tables.documents(s, d).filter(col("doc_id") >= 250),
        s"$dir/index", n = 6)
      s"$dir/index"
    }

  /** Build-once memo for the q174 harness query: a 4-gram string-keyed
    * span index over q167's corpus split (doc_id >= 40), so the
    * serve-from-index matrix screens the identical corpus the direct
    * q167 pass screens. Library users call [[buildSpanIndex]] with
    * their own storage. */
  private def cachedContamIndex(s: SparkSession, d: String): String =
    graft.operators.BuildOnce.dir("graft-contam-index", d) { dir =>
      buildSpanIndex(Tables.documents(s, d).filter(col("doc_id") >= 40),
        s"$dir/index", n = 4)
      s"$dir/index"
    }

  /** Build-once memo for the q178 drift harness: the EARLIER snapshot —
    * the corpus as it stood at the last audit (doc_id in [40, 90)),
    * before the ingest that grew it to [[cachedContamIndex]]'s full
    * `doc_id >= 40` generation. */
  private def cachedContamIndexOld(s: SparkSession, d: String): String =
    graft.operators.BuildOnce.dir("graft-contam-index-old", d) { dir =>
      buildSpanIndex(Tables.documents(s, d)
          .filter(col("doc_id") >= 40 && col("doc_id") < 90),
        s"$dir/index", n = 4)
      s"$dir/index"
    }

  /** Build-once memo for the q153 harness query (the q146 memo
    * discipline): the CDC chunk-digest index of the corpus generation
    * (doc_id < 250), built once per sf-dir per JVM. Library users call
    * [[buildCdcIndex]] with their own storage. */
  private def cachedCdcIndex(s: SparkSession, d: String): String =
    graft.operators.BuildOnce.dir("graft-cdc-index", d) { dir =>
      buildCdcIndex(Tables.documents(s, d).filter(col("doc_id") < 250),
        s"$dir/index")
      s"$dir/index"
    }

  /** Doc ids from `corpus` that share ≥1 word n-gram with `evalDocs` —
    * benchmark decontamination, the curation stage every LLM pipeline
    * runs before training (eval questions leaking into the corpus).
    *
    * Scale design: the EVAL side is small by nature (benchmarks are
    * thousands of docs, the corpus is billions), so its distinct gram set
    * broadcasts and the corpus side is a map-side semi-join on the
    * exploded gram stream — the 100 TB corpus is never shuffled, and the
    * only aggregation is the distinct over surviving (doc_id) hits. If an
    * eval set ever outgrows broadcast, drop the hint and Catalyst falls
    * back to a hash join keyed on the gram.
    */
  def contaminatedIds(corpus: DataFrame, evalDocs: DataFrame, n: Int = 4,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val evalGrams = evalGramSet(evalDocs, n, textCol)
    explodedGrams(corpus, n, Seq(idCol), textCol)
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** `corpus` minus every doc sharing ≥1 word n-gram with `evalDocs`. */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 4,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    corpus.join(contaminatedIds(corpus, evalDocs, n, textCol, idCol),
      Seq(idCol), "left_anti")

  /** [[contaminatedIds]] with a Bloom-filter pre-filter — the variant for
    * when the eval side has outgrown a broadcast of its raw gram STRINGS
    * but not of a bit array: 10⁹ eval grams ≈ tens of GB as strings vs
    * ~1.2 GB as a 1%-FP Bloom filter. The corpus gram stream is first
    * thinned map-side by `might_contain` (codegen'd, no shuffle, no join),
    * and only the tiny surviving fraction reaches the exact semi-join that
    * removes Bloom false positives — so the result is IDENTICAL to
    * [[contaminatedIds]] (no false negatives by construction), which is
    * what lets q100 share q65's exact oracle.
    *
    * The filter is built by `bloom_filter_agg` as one aggregated row; only
    * those `numBits/8` bytes ever reach the driver (same driver-size class
    * as the fitted k-means models — bounded by config, not by data).
    *
    * @param expectedItems sizing hint for the filter's hash count
    * @param numBits       filter width; FP rate ≈ 0.6185^(numBits/items)
    */
  def contaminatedIdsBloom(corpus: DataFrame, evalDocs: DataFrame, n: Int = 4,
                           textCol: String = "text", idCol: String = "doc_id",
                           expectedItems: Long = 1000000L,
                           numBits: Long = 8000000L): DataFrame = {
    require(expectedItems > 0 && numBits > 0,
      s"contaminatedIdsBloom: sizing must be positive, got items=$expectedItems bits=$numBits")
    val evalGrams = evalGramSet(evalDocs, n, textCol)
    // bloom_filter_agg / might_contain are real codegen'd Spark
    // expressions (the machinery behind runtime bloom-filter joins) but
    // are not in the public function registry — constructed directly,
    // same bridge the custom expressions use.
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloom = evalGrams
      .select(column(new BloomFilterAggregate(
          expression(xxhash64(col("gram"))),
          Literal(expectedItems), Literal(numBits)).toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    explodedGrams(corpus, n, Seq(idCol), textCol)
      .filter(column(BloomFilterMightContain(
        expression(lit(bloom)), expression(xxhash64(col("gram"))))))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Per-doc contamination RATE — the graded companion to the binary
    * [[contaminatedIds]] flag: for each corpus doc, how many of its
    * DISTINCT word n-grams appear anywhere in the eval set. A doc with
    * 1/500 overlapping grams (a quoted idiom) and one with 480/500 (a
    * verbatim eval question) both trip the binary filter; pipelines that
    * quarantine-by-degree need the counts. Returns
    * `(doc_id, n_grams, contam_grams)` for docs with ≥1 hit.
    *
    * Scale design: the per-doc gram DISTINCT is `array_distinct` BEFORE
    * the explode — map-side, inside codegen, no (doc, gram) shuffle —
    * and the eval probe is the same broadcast hash join as
    * [[contaminatedIds]], so the corpus stream is shuffled exactly once,
    * by doc_id for the count aggregation (partial map-side counts make
    * that exchange rows-per-doc, not rows-per-gram).
    */
  def contaminationRate(corpus: DataFrame, evalDocs: DataFrame, n: Int = 4,
                        textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val evalGrams = evalGramSet(evalDocs, n, textCol)
      .withColumn("hit", lit(1))
    explodedGrams(corpus, n, Seq(idCol), textCol, distinctPerDoc = true)
      .join(broadcast(evalGrams), Seq("gram"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("contam_grams"))
      .filter(col("contam_grams") >= 1)
  }

  /** Multi-eval-set contamination MATRIX — the governance view of the
    * decontamination family: a production shop screens against MANY held
    * eval sets (each its own benchmark), and running [[contaminatedIds]]
    * once per set re-scans the corpus per benchmark. Here every eval
    * set's gram set is TAGGED and unioned (eval sets are small — the
    * broadcast class), and ONE corpus gram pass joins them all: per
    * `(source, eval_name)`, the distinct contaminated-doc count and the
    * integer-µ contamination rate. A row of this matrix answers "which
    * sources leak which benchmarks" before any doc is dropped.
    *
    * Scale shape: one corpus gram stream (the q65 projection), one
    * broadcast hash join against the tagged union, one distinct on
    * `(doc, eval)` pairs (output-sized), |sources|-row totals broadcast
    * back. Adding a benchmark adds broadcast rows, never a corpus pass.
    */
  def contaminationMatrix(corpus: DataFrame, evals: Seq[(String, DataFrame)],
                          n: Int = 4, textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(evals.nonEmpty, "contaminationMatrix: no eval sets given")
    require(evals.map(_._1).distinct.size == evals.size,
      s"contaminationMatrix: duplicate eval names in ${evals.map(_._1)}")
    val tagged = taggedEvalGrams(evals, n, textCol)
    val hits = explodedGrams(corpus, n, Seq(idCol, "source"), textCol,
        distinctPerDoc = true)
      .join(broadcast(tagged), Seq("gram"))
      .select(col(idCol), col("source"), col("eval_name")).distinct()
    val totals = corpus.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    hits.groupBy(col("source"), col("eval_name"))
      .agg(count(lit(1)).as("n_contaminated"))
      .join(broadcast(totals), Seq("source"))
      .withColumn("contam_rate_micro",
        expr("(n_contaminated * 1000000) div n_docs"))
  }

  /** SURGICAL decontamination — the span-level action tier of the
    * contamination family: where [[contaminatedIds]]/q65 DROPS every
    * doc sharing an eval n-gram, this cuts only the leaked passage and
    * keeps the rest of the document (a doc quoting one benchmark
    * question keeps its other 95% — whole-doc decontamination throws
    * away good tokens exactly where eval sets quote popular sources).
    * Every token covered by some eval-matching n-gram `[s, s+n-1]` is
    * removed; emits `(doc_id, source, n_tokens, n_removed, clean_text)`
    * for EVERY corpus doc (untouched docs pass through with
    * `n_removed = 0`, so the output is the publishable corpus, not a
    * report).
    *
    * Composition: the positioned gram stream and coverage-rebuild
    * kernel are [[dedupSpans]]' (one definition of "covered"), with the
    * duplicated-gram set replaced by the BROADCAST eval gram set — so
    * the corpus is never shuffled by gram at all: matching is a
    * broadcast semi-join, and the only exchange is the per-doc start
    * collection rejoined by id. Removal maximality and island semantics
    * are inherited: overlapping eval grams merge into one removed span.
    */
  def decontaminateSpans(docs: DataFrame, evalDocs: DataFrame, n: Int = 4,
                         textCol: String = "text"): DataFrame = {
    require(n >= 2, s"decontaminateSpans: span width must be >= 2, got $n")
    // two consumers (gram stream + rebuild join): cut once
    val toks = docs.select(col("doc_id"), col("source"),
        tokens(col(textCol)).as("__toks"))
      .localCheckpoint(false)
    val starts = positionedGrams(toks, n, identity)
      .join(broadcast(evalGramSet(evalDocs, n, textCol)), Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("__starts"))
    rebuildWithoutCoverage(toks.join(starts, Seq("doc_id"), "left_outer"),
      n, carryCols = Seq("source"))
  }

  /** SERVE tier of [[decontaminateSpans]] — the admission-gate
    * formulation: the eval gram set COMPILES INTO THE PLAN as a
    * codegen'd set-membership expression
    * ([[graft.functions.GramSetStarts]]), and the whole cut is ONE pure
    * projection: per row, covered starts come from O(tokens) hash probes
    * of a per-executor `HashSet` built once from the compiled set, then
    * the SAME coverage-rebuild kernel. Zero joins, zero shuffles, zero
    * state — so the IDENTICAL call runs on an ingest STREAM unchanged,
    * scrubbing leaked passages at the door (suite-gated ≡ the batch join
    * tier, batch and stream, on a >4096-gram panel).
    *
    * Cost: O(tokens) per doc regardless of panel size — the earlier
    * literal-map `try_element_at` formulation was a LINEAR SCAN per gram
    * (O(tokens × |grams|), capped at 4096); the remaining bound is plan
    * size: the gram set rides the stage's TASK BINARY, measured in r15
    * (PLANS.md, "Compiled-literal plan weight" table) at ~35 KB base +
    * gram UTF-8 bytes × ~1.1 — 16.1 MB at 500k × ~29 B grams. The cap
    * is therefore TWO-DIMENSIONAL: `maxServeGrams` bounds the element
    * count and `maxServeGramBytes` bounds the total UTF-8 payload, so
    * long grams (large n, long tokens) cannot smuggle an arbitrarily
    * heavy set under a pure element-count guard. Past either cap, the
    * broadcast-join tier ([[decontaminateSpans]]) is the right shape
    * anyway: a multi-million-gram set belongs on the broadcast bus, not
    * in the plan. */
  def decontaminateSpansServe(docs: DataFrame, evalGrams: Seq[String],
                              n: Int = 4,
                              textCol: String = "text",
                              maxServeGrams: Int = 500000,
                              maxServeGramBytes: Long = 32L << 20): DataFrame = {
    require(n >= 2, s"decontaminateSpansServe: span width must be >= 2, got $n")
    require(evalGrams.nonEmpty, "decontaminateSpansServe: empty eval gram set")
    val grams = evalGrams.distinct
    require(grams.size <= maxServeGrams,
      s"decontaminateSpansServe: ${grams.size} eval grams exceed " +
        s"maxServeGrams ($maxServeGrams) - the compiled gram set " +
        "serializes into every task's plan; use decontaminateSpans " +
        "(broadcast join) for larger suites, or raise the cap knowingly")
    val gramBytes = grams.iterator
      .map(g => g.getBytes("UTF-8").length.toLong).sum
    require(gramBytes <= maxServeGramBytes,
      s"decontaminateSpansServe: eval grams total $gramBytes UTF-8 bytes, " +
        s"exceeding maxServeGramBytes ($maxServeGramBytes) - the task " +
        "binary grows with gram BYTES (~1.1x, measured in PLANS.md), " +
        "not just count; use decontaminateSpans (broadcast join) for " +
        "heavier suites, or raise the cap knowingly")
    val toks = docs.select(col("doc_id"), col("source"),
      tokens(col(textCol)).as("__toks"))
    rebuildWithoutCoverage(
      toks.withColumn("__starts",
        graft.functions.TextFunctions.gram_set_starts(col("__toks"), n, grams)),
      n, carryCols = Seq("source"))
  }

  /** The distinct gram STRINGS of an eval corpus, driver-collected —
    * the input [[decontaminateSpansServe]] ships as a plan literal.
    * Bounded by the eval set's size (the fitted-model collect class). */
  def evalGramStrings(evalDocs: DataFrame, n: Int = 4,
                      textCol: String = "text"): Seq[String] =
    evalGramSet(evalDocs, n, textCol).collect().map(_.getString(0)).toSeq

  /** [[contaminationMatrix]] served FROM the persisted span index — the
    * nightly tier: screening a NEW benchmark against a 100 TB corpus
    * must not re-read (or re-tokenize) a byte of corpus text, and the
    * span index's `pos/` table already IS the corpus's positioned gram
    * stream. The tagged eval-gram union (same shared builder) probes
    * `pos/` via broadcast join; distinct (doc, eval) hits — bounded by
    * the contamination rate — broadcast into the caller's `(doc_id,
    * source)` meta projection for source attribution; totals are a
    * |sources|-row aggregate of the same meta. Output is row-identical
    * to [[contaminationMatrix]] on the indexed corpus (the q157/q159
    * serve-from-index identity — the full-corpus construction IS the
    * oracle).
    *
    * Requirements: the index was built with `hashGrams = false` (string
    * grams — the eval side must join them verbatim) and the SAME `n` as
    * this screen. `docsMeta` is the corpus id→source projection (a
    * 2-column scan; at 100 TB this is the catalog/metadata table, not
    * the text).
    */
  def contaminationMatrixFromIndex(spark: SparkSession, dir: String,
                                   evals: Seq[(String, DataFrame)],
                                   docsMeta: DataFrame,
                                   n: Int = 4): DataFrame = {
    require(evals.nonEmpty, "contaminationMatrixFromIndex: no eval sets given")
    require(evals.map(_._1).distinct.size == evals.size,
      s"contaminationMatrixFromIndex: duplicate eval names in ${evals.map(_._1)}")
    val pos = stringGramPos(spark, dir, "contaminationMatrixFromIndex")
    val tagged = taggedEvalGrams(evals, n)
    val hits = pos
      .join(broadcast(tagged), Seq("gram"))
      .select(col("doc_id"), col("eval_name")).distinct()
    val meta = docsMeta.select(col("doc_id"), col("source"))
    val totals = meta.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // hits is sized by the CONTAMINATION ITSELF — the one frame here whose
    // size this screen exists to discover. A forced broadcast hint would
    // bypass Spark's size checks and OOM exactly when the corpus is
    // pervasively leaked (large |hits| × many evals), so the join is left
    // UNHINTED: AQE reads the actual runtime size and broadcasts a small
    // hit set (the common case) or degrades to a shuffle join when the
    // contamination is corpus-scale. Only the two frames bounded BY
    // CONSTRUCTION stay force-broadcast: the tagged eval grams and the
    // |sources|-row totals.
    meta.join(hits, Seq("doc_id"))
      .groupBy(col("source"), col("eval_name"))
      .agg(count(lit(1)).as("n_contaminated"))
      .join(broadcast(totals), Seq("source"))
      .withColumn("contam_rate_micro",
        expr("(n_contaminated * 1000000) div n_docs"))
  }

  /** The span index's positioned gram stream, CHECKED for string grams:
    * a hash-built index (gram: bigint) joined against string eval grams
    * would coerce both sides and match NOTHING — an all-clear
    * contamination report is the worst possible silent failure, so
    * every from-index contamination screen checks the stated
    * requirement instead of assuming it. */
  private def stringGramPos(spark: SparkSession, dir: String,
                            caller: String): DataFrame = {
    val pos = spark.read.parquet(s"$dir/pos")
    val gramType = pos.schema("gram").dataType
    require(gramType == org.apache.spark.sql.types.StringType,
      s"$caller: index at $dir/pos keys grams as " +
        s"$gramType - it was built with hashGrams=true, which this " +
        "screen cannot probe (eval grams are strings); build the " +
        "contamination index with hashGrams=false")
    pos
  }

  /** [[contaminationRate]] served FROM the persisted span index — the
    * graded tier's nightly form, completing the serve-from-index family
    * (binary drop = q65, matrix = q174, surgical cut = q173's index-fed
    * spans, and now quarantine-by-degree): per indexed doc, how many of
    * its distinct word n-grams appear in the eval set — computed
    * entirely from `pos/`, which already IS the doc's positioned gram
    * stream, so grading a corpus against a NEW benchmark never re-reads
    * or re-tokenizes a byte of corpus text. Output is row-identical to
    * [[contaminationRate]] on the indexed corpus (the serve-from-index
    * identity — the direct construction is the oracle).
    *
    * Scale shape: one pos/ scan, the eval gram set broadcast, one
    * doc-keyed distinct-count aggregation (pos/ repeats a gram per
    * occurrence; the distinct is part of the aggregate, partial
    * map-side). Same string-gram and same-`n` requirements as the
    * matrix probe. */
  def contaminationRateFromIndex(spark: SparkSession, dir: String,
                                 evalDocs: DataFrame,
                                 n: Int = 4,
                                 textCol: String = "text"): DataFrame = {
    val pos = stringGramPos(spark, dir, "contaminationRateFromIndex")
    val evalGrams = evalGramSet(evalDocs, n, textCol).withColumn("hit", lit(1))
    // two-stage distinct (r19): the old twin count_distinct over the
    // same column planned an Expand that DOUBLED the pos/ occurrence
    // stream — the largest frame in the query — before the shuffle.
    // Collapsing to (doc_id, gram) first is a partial-aggregated
    // distinct (map-side combine), and both counts then read the
    // collapsed groups once; `max(hit)` is null iff no occurrence hit,
    // so count(__hit) ≡ count_distinct(gram | hit) exactly.
    pos.select(col("doc_id"), col("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_outer")
      .groupBy(col("doc_id"), col("gram"))
      .agg(max(col("hit")).as("__hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("contam_grams"))
      .filter(col("contam_grams") >= 1)
  }

  /** Contamination DRIFT between two span-index snapshots — the nightly
    * governance delta the matrix family was missing: q174 answers
    * "which sources leak which benchmarks NOW"; this answers "which
    * sources got cleaner or dirtier SINCE THE LAST AUDIT" — the signal
    * that catches a new ingest source quietly re-introducing benchmark
    * text, or a decontamination pass actually paying off. Composes
    * [[contaminationMatrixFromIndex]] over both snapshots (each probe
    * rides its index's `pos/` — corpus text is never re-read or
    * re-tokenized on either side) and diffs per `(source, eval_name)`
    * in EXACT integers (the q129/q161 drift discipline): a pair absent
    * from a snapshot is zero contamination, so sources appearing or
    * vanishing between audits surface as full-magnitude deltas rather
    * than dropped rows.
    *
    * Output per pair: old/new contaminated-doc counts, old/new integer-µ
    * rates, and their deltas (`delta_docs`, `delta_rate_micro` — sign
    * says cleaner (<0) or dirtier (>0)).
    *
    * Scale shape: both matrices are |sources| × |evals| rows — the
    * full-outer diff join is output-sized, trivially broadcastable, and
    * the heavy side (the two pos/ probes) inherits q174's shape,
    * including the unhinted hits join. */
  def contaminationDrift(spark: SparkSession, dirOld: String, dirNew: String,
                         evals: Seq[(String, DataFrame)],
                         metaOld: DataFrame, metaNew: DataFrame,
                         n: Int = 4): DataFrame = {
    val old = contaminationMatrixFromIndex(spark, dirOld, evals, metaOld, n)
      .select(col("source"), col("eval_name"),
        col("n_contaminated").as("contam_docs_old"),
        col("contam_rate_micro").as("rate_old_micro"))
    val nw = contaminationMatrixFromIndex(spark, dirNew, evals, metaNew, n)
      .select(col("source"), col("eval_name"),
        col("n_contaminated").as("contam_docs_new"),
        col("contam_rate_micro").as("rate_new_micro"))
    old.join(nw, Seq("source", "eval_name"), "full_outer")
      .na.fill(0L, Seq("contam_docs_old", "contam_docs_new",
        "rate_old_micro", "rate_new_micro"))
      .withColumn("delta_docs",
        col("contam_docs_new") - col("contam_docs_old"))
      .withColumn("delta_rate_micro",
        col("rate_new_micro") - col("rate_old_micro"))
  }

  /** Composite document quality score in [0, 1] — the weighted ensemble
    * of heuristic signals (lexical diversity, stopword density, length)
    * that curation pipelines threshold on when no learned classifier is
    * available (and the feature vector they feed one when it is). Every
    * component is an exact int/int division and the combination is a
    * FIXED-order expression, so the rounded score is bit-reproducible
    * across engines — a doc's keep/drop decision never depends on which
    * engine (or which partition order) evaluated it.
    */
  def qualityScore(text: Column): Column = qualityScoreOfTokens(tokens(text))

  /** [[qualityScore]] over a pre-materialized token array — five token
    * metrics otherwise re-split the text five times per row (see the
    * `...OfTokens` note above). */
  def qualityScoreOfTokens(toks: Column): Column = {
    val ttr = typeTokenRatioOfTokens(toks)
    val stop = stopwordRatioOfTokens(toks)
    val lenNorm = least(tokenCountOfTokens(toks).cast("double") / lit(100), lit(1.0))
    round(lit(0.4) * ttr + lit(0.3) * (lit(1) - stop) + lit(0.3) * lenNorm, 6)
  }

  /** In-place redaction: replace every whole-token occurrence of `terms`
    * with `mask`, leaving the rest of the document intact — the scrubbing
    * counterpart of the blocklist DOC filter ([[graft.operators.Dedup]]
    * q66 drops documents; this keeps them with the sensitive tokens
    * masked). A pure `regexp_replace` projection: fuses into the scan,
    * zero shuffle, and the alternation compiles once per task. Terms are
    * restricted to plain word tokens so the generated pattern is also
    * valid RE2 — the redacted text is reproducible across engines.
    */
  def redact(text: Column, terms: Seq[String], mask: String = "<MASK>"): Column = {
    require(terms.nonEmpty, "redact: empty term list")
    require(terms.forall(_.matches("[A-Za-z0-9]+")),
      s"redact: terms must be plain word tokens, got ${terms.filterNot(_.matches("[A-Za-z0-9]+"))}")
    regexp_replace(text, terms.mkString("\\b(", "|", ")\\b"), mask)
  }

  /** Structured-PII scrub: emails, then long digit runs (phone/account
    * numbers), each to a typed placeholder. Patterns deliberately use
    * only RE2-compatible syntax (no lookarounds) so the same scrub is
    * reproducible on any engine. Applied innermost-first so an email's
    * digits are consumed by `<EMAIL>` rather than split by `<NUM>`.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val longNum = "\\+?[0-9][0-9 ()+.-]{6,}[0-9]"
    regexp_replace(regexp_replace(text, email, "<EMAIL>"), longNum, "<NUM>")
  }

  /** Split each document into overlapping token windows — the
    * long-document chunking step of sequence preparation (a doc longer
    * than the model context becomes ⌈n/stride⌉ training chunks of up to
    * `chunkTokens` tokens, consecutive chunks overlapping by
    * `chunkTokens − stride`).
    *
    * Pure per-row generate (`sequence` → `posexplode` → `slice`, all
    * codegen'd): no shuffle, no state — the chunk list is a function of
    * the row, so the operator scales linearly and survives any
    * repartitioning. Output rows: (id, chunk_idx, start, n_chunk_tokens,
    * chunk_text); chunk_idx = start / stride.
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int, stride: Int,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkTokens >= 1, s"chunkDocs: chunkTokens must be ≥ 1, got $chunkTokens")
    require(stride >= 1 && stride <= chunkTokens,
      s"chunkDocs: stride must be in [1, chunkTokens], got $stride — " +
        "stride 0 loops forever; stride > chunk silently drops tokens")
    docs.select(col(idCol), split(col(textCol), " ").as("toks"))
      .select(col(idCol), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start"),
        size(slice(col("toks"), col("start") + 1, lit(chunkTokens))).as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(chunkTokens))).as("chunk_text"))
  }

  /** Per-doc word-n-gram repetition stats struct (n_grams, n_dup,
    * top_count) — the Gopher-style repetition quality signals. Codegen'd
    * single pass per row ([[graft.functions.NgramRepetitionStats]]):
    * zero shuffle until whatever rollup consumes it.
    */
  def repetitionStats(text: Column, n: Int = 2): Column =
    graft.functions.TextFunctions.ngram_repetition(text, n)

  /** BM25 keyword retrieval: top-k docs for a bag of query terms — the
    * lexical leg of a hybrid (keyword + vector) corpus search, and the
    * standard "find the boilerplate/spam cluster" audit probe.
    *
    * Scale design (100 TB): the corpus scan is pre-filtered map-side
    * (`arrays_overlap` against the literal term set) BEFORE the explode,
    * so only matching docs ever produce rows; term frequencies are one
    * keyed aggregation over those rows; document frequency and corpus
    * stats are term-count-sized / single-row and broadcast back. The
    * final top-k is `orderBy(...).limit(k)` — Spark plans
    * TakeOrderedAndProject (per-partition partial top-k, no global
    * sort). Corpus length stats (N, avgdl) are exact integer sums with
    * ONE final division, and per-term scores are rounded before the
    * per-doc sum so cross-engine libm ulp differences in ln() cannot
    * reorder results.
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(k > 0, s"top-k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val withDl = docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("dl", size(col("t")))
    // exact-integer corpus stats: sum/count once, divide once
    val stats = withDl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val matched = withDl.filter(arrays_overlap(col("t"), typedlit(terms)))
      .select(col("doc_id"), col("dl"), explode(col("t")).as("term"))
      .filter(col("term").isin(terms.map(lit): _*))
    val tf = matched.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("s_term", round(
        log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
      .groupBy(col("doc_id")).agg(round(sum(col("s_term")), 4).as("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      // rank assignment runs over only the k surviving rows
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009, public) of
    * N rankings over the same id space — the standard hybrid-retrieval
    * combiner (lexical BM25 + semantic ANN in every modern RAG stack):
    * fused(d) = Σ_lists 1/(k0 + rank_list(d)), robust to incomparable
    * score scales because only RANKS enter. Computed in exact integer
    * micro-units (`1e6 div (k0 + rank)` — floor division on both
    * engines), so the fused ordering is engine-exact and the q130
    * oracle gates it row-for-row; ties break to the lowest id.
    *
    * Scale shape: each input ranking is already top-k-sized (k·lists
    * rows total); the fuse is one union + one id-keyed aggregation over
    * those few rows and a `TakeOrderedAndProject` top-k — negligible
    * next to the legs that produced the rankings.
    */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, k0: Int = 60,
              idCol: String = "doc_id", rankCol: String = "rn"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings to fuse")
    require(topK > 0, s"rrfFuse: topK must be positive, got $topK")
    require(k0 >= 0, s"rrfFuse: k0 must be >= 0, got $k0")
    import org.apache.spark.sql.expressions.Window
    rankings.map(_.select(col(idCol).cast("long").as("doc_id"),
        expr(s"CAST(1000000 AS BIGINT) div ($k0 + CAST($rankCol AS BIGINT))")
          .as("c")))
      .reduce(_ unionByName _)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("bigint").as("rrf_micro"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(topK)
      .withColumn("fused_rank", row_number().over(
        Window.orderBy(col("rrf_micro").desc, col("doc_id"))))
  }

  /** Drop docs containing any blocklisted token — the safety/blocklist
    * gate of a curation pipeline. A pure map-side filter fused into the
    * scan (the blocklist is a literal array; no join, no shuffle). */
  def blocklistFilter(docs: DataFrame, blocked: Seq[String],
                      textCol: String = "text"): DataFrame =
    docs.filter(!arrays_overlap(tokens(col(textCol)), typedlit(blocked)))

  /** Sketch-first heavy hitters: the exact corpus-wide top-`topN`
    * n-grams, found WITHOUT a vocabulary-wide groupBy. Pass 1 reduces
    * the gram stream to a ≤ `summaryK`-entry Misra–Gries summary
    * ([[graft.functions.MisraGriesAggregator]] — partial aggregation
    * keeps each map task's contribution at ≤ summaryK entries, so the
    * shuffle carries partitions×summaryK rows, not the vocabulary);
    * pass 2 EXACTLY recounts only the summary's candidate tokens via a
    * broadcast semi-join and takes the top `topN`.
    *
    * Correctness contract (the q110 oracle): the MG superset guarantee —
    * every gram with frequency > n/(summaryK+1) survives pass 1 — means
    * the recounted top-N equals the true top-N whenever the N-th
    * heaviest gram clears that bar; counts are exact because they come
    * from the recount, never from the sketch. Size summaryK ≥ n / f_N
    * for the expected N-th-heaviest frequency f_N (gated in
    * MisraGriesSuite on adversarial streams with summaryK ≪ vocabulary).
    *
    * The gram stream is deliberately recomputed between the two passes
    * (same trade as the string tier of [[dupSpanStats]]): storing it
    * would cost ~n× the corpus text, while the recompute is one more
    * linear scan.
    */
  def heavyHitters(docs: DataFrame, summaryK: Int, topN: Int,
                   n: Int = 2, textCol: String = "text"): DataFrame = {
    require(summaryK >= topN, s"summaryK $summaryK must be >= topN $topN")
    import org.apache.spark.sql.expressions.Window
    val grams = explodedGrams(docs, n, Seq.empty, textCol)
    val mg = udaf(new graft.functions.MisraGriesAggregator(summaryK))
    val cand = grams.agg(mg(col("gram")).as("summary"))
      .select(explode(map_keys(col("summary"))).as("gram"))
    grams.join(broadcast(cand), Seq("gram"), "left_semi")
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram")).limit(topN)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("gram"))))
      .select(col("rnk"), col("gram"), col("cnt"))
      .orderBy(col("rnk"))
  }

  /** Fit a BPE tokenizer on a bounded, deterministic corpus sample —
    * the real subword tokenizer step past [[regexTokens]]' BPE-ish
    * approximation. The sample is `TakeOrdered` by doc_id (top-n merge,
    * no global sort), so the fit input — and with it the vocabulary the
    * driver-side trainer sees — is capped by `sampleDocs`, never by
    * corpus size (the fitted-model pattern: centroids, PQ codebooks,
    * importance ratios). */
  def fitBpeModel(docs: DataFrame, nMerges: Int, sampleDocs: Int = 2000,
                  textCol: String = "text"): graft.functions.BpeTokenizer.BpeModel = {
    val wf = docs.orderBy(col("doc_id")).limit(sampleDocs)
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.functions.BpeTokenizer.fit(wf, nMerges)
  }

  /** Per-doc token counts under a fitted BPE model — the count a
    * trainer's tokenizer would actually produce, which is what sequence
    * packing (q67) and context-window chunking (q82) budgets should run
    * on. The model broadcasts; encoding is per-partition with a word
    * memo (Zipf reuse: each partition pays encode cost per DISTINCT
    * word, not per occurrence). `mapPartitions` is the honest tool here
    * for the same reason as the media codecs: greedy rank-ordered
    * merging is an iterative per-word algorithm, not a column
    * expression. */
  def bpeTokenCounts(docs: DataFrame,
                     model: graft.functions.BpeTokenizer.BpeModel,
                     textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    docs.select(col("doc_id").cast("long"), col("source"), col(textCol))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val memo = collection.mutable.HashMap.empty[String, Int]
        it.map { case (id, src, text) =>
          (id, src, graft.functions.BpeTokenizer.countTokens(bc.value, memo, text))
        }
      }.toDF("doc_id", "source", "n_bpe_tokens")
  }

  /** One fitted BPE model per sf-dir per JVM (the q102 AnnIndex memo
    * pattern): the q112 bench measures the ENCODE path — the recurring
    * cost — with the one-time fit landing in the warmup pass. */
  private val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.functions.BpeTokenizer.BpeModel]()

  /** Where q124 persists its per-doc BPE counts for the DuckDB oracle to
    * read back (the same absolute-path parquet access the gate already
    * uses for every Spark result) — TAGGED per dataset directory so a
    * sf0.1 bench run can never leave counts a later sf0.01 verify would
    * silently compare against. The oracle SQL carries the
    * [[graft.Verify.SfTagToken]] placeholder; `Verify.renderedOracleSql`
    * substitutes the actual dataset's tag before oracle_sql.json is
    * written (and OracleHygieneSuite fails if any placeholder survives
    * a rendered dump).
    */
  private[graft] def sfTag(sfDir: String): String =
    sfDir.stripSuffix("/").split('/').last.replaceAll("[^A-Za-z0-9._-]", "_")

  private def bpeCountsPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_bpe_counts_${sfTag(sfDir)}.parquet"

  private val bpeCountsPathTemplate: String =
    s"${sys.props("java.io.tmpdir")}/graft_bpe_counts_${graft.Verify.SfTagToken}.parquet"

  /** Token-vocabulary drift between two corpus snapshots — the TEXT twin
    * of the embedding drift audit (q126) and the companion to
    * [[graft.operators.Pipeline.corpusDiff]]: corpusDiff says WHICH docs
    * changed, this says what the change did to the LANGUAGE the model
    * will see (a scraper regression, an injected boilerplate string, or
    * a source mix shift all surface as token-count deltas long before a
    * training metric moves). Returns the `topN` tokens by |Δcount| with
    * exact integer occurrence counts and a verdict
    * (`new`/`gone`/`grew`/`shrunk`); flat tokens never surface.
    * Deterministic total order (|Δ| desc, token asc) so the top-N SET is
    * engine-exact — the DuckDB oracle gates it row-for-row.
    *
    * Scale shape: two map-side-combined token aggregations (vocab-sized
    * outputs), one vocab-keyed full-outer join of (token, long) rows,
    * and a top-N over vocab rows — the corpus text itself never
    * shuffles.
    */
  def vocabDrift(oldDocs: DataFrame, newDocs: DataFrame, topN: Int = 100,
                 textCol: String = "text"): DataFrame = {
    require(topN > 0, s"vocabDrift: topN must be positive, got $topN")
    def occ(df: DataFrame, as: String) =
      df.select(explode(tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(as))
    occ(oldDocs, "n_old").join(occ(newDocs, "n_new"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("delta", col("n_new") - col("n_old"))
      .filter(col("delta") =!= 0)
      .withColumn("change",
        when(col("n_old") === 0, "new").when(col("n_new") === 0, "gone")
          .when(col("delta") > 0, "grew").otherwise("shrunk"))
      .orderBy(abs(col("delta")).desc, col("token"))
      .limit(topN)
  }

  /** Full per-document text statistics frame. Tokenizes once per row
    * (own projection) — the metric columns embed ~10 references to the
    * token array between them. */
  def analyze(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("text"),
        tokens(col("text")).as("__toks"),
        substring(col("text"), 1, 64).as("__pfx"))
      .select(
        col("doc_id"),
        col("lang"),
        tokenCountOfTokens(col("__toks")).as("n_tokens"),
        size(regexTokens(col("text"))).as("n_regex_tokens"),
        length(col("text")).as("len_chars"),
        stopwordRatioOfTokens(col("__toks")).as("stopword_ratio"),
        typeTokenRatioOfTokens(col("__toks")).as("type_token_ratio"),
        fingerprintOfPrefix(col("__pfx")).as("fp"),
        langIdOfTokens(col("__toks")).as("pred_lang"))

  val specs: Seq[QuerySpec] = Seq(

    QuerySpec(
      "q20_text_stats",
      (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d)
        val stopToks = size(filter($"__toks",
          t => t.isin("the", "a", "of", "and", "to")))
        docs.select($"lang", $"text", tokens($"text").as("__toks"))
          .select($"lang",
            tokenCountOfTokens($"__toks").as("n_tokens"),
            size(regexTokens($"text")).as("n_regex_tokens"),
            length($"text").as("len_chars"),
            stopToks.as("n_stop_tokens"))
          .groupBy($"lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("sum_tokens"),
            sum($"n_regex_tokens").as("sum_regex_tokens"),
            sum($"len_chars").as("sum_chars"),
            // single int/int division → bit-identical doubles across engines
            (sum($"n_stop_tokens").cast("double") / sum($"n_tokens"))
              .as("stopword_ratio"))
          .orderBy($"lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(SUM(n_regex_tokens) AS BIGINT) AS sum_regex_tokens,
               CAST(SUM(len_chars) AS BIGINT) AS sum_chars,
               CAST(SUM(n_stop_tokens) AS DOUBLE) / SUM(n_tokens) AS stopword_ratio
        FROM (
          SELECT lang,
                 len(string_split(text, ' ')) AS n_tokens,
                 len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+')) AS n_regex_tokens,
                 length(text) AS len_chars,
                 len(list_filter(string_split(text, ' '),
                      t -> t IN ('the','a','of','and','to'))) AS n_stop_tokens
          FROM documents)
        GROUP BY lang
        ORDER BY lang""")),

    QuerySpec(
      "q21_fingerprint",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", substring($"text", 1, 64).as("__pfx"))
          .select($"doc_id", fingerprintOfPrefix($"__pfx").as("fp"))
          .orderBy($"doc_id")
      },
      Some("""
        SELECT doc_id,
               list_reduce(
                 list_prepend(0, list_transform(range(1, length(substr(text,1,64)) + 1),
                   i -> CAST(ascii(substr(substr(text,1,64), CAST(i AS INT), 1)) AS BIGINT))),
                 (a, b) -> (a * 31 + b) % 1000000007) AS fp
        FROM documents
        ORDER BY doc_id""")),

    QuerySpec(
      "q22_lang_id",
      (s, d) => {
        import s.implicits._
        Tables.documents(s, d)
          .select($"doc_id", tokens($"text").as("__toks"), $"lang")
          .select($"doc_id", langIdOfTokens($"__toks").as("pred_lang"), $"lang")
          .groupBy($"pred_lang", $"lang")
          .agg(count(lit(1)).as("n"))
          .orderBy($"pred_lang", $"lang")
      },
      Some("""
        SELECT pred_lang, lang, COUNT(*) AS n
        FROM (
          SELECT lang,
            CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
                 WHEN de >= es AND de >= fr THEN 'de'
                 WHEN es >= fr THEN 'es'
                 ELSE 'fr' END AS pred_lang
          FROM (
            SELECT lang,
              len(list_filter(string_split(text,' '), t -> t IN ('the','a','of'))) AS en,
              len(list_filter(string_split(text,' '), t -> t IN ('der','die','das'))) AS de,
              len(list_filter(string_split(text,' '), t -> t IN ('el','los','una'))) AS es,
              len(list_filter(string_split(text,' '), t -> t IN ('le','les','une'))) AS fr
            FROM documents))
        GROUP BY pred_lang, lang
        ORDER BY pred_lang, lang""")),

    QuerySpec(
      "q23_quality_filter",
      (s, d) => {
        import s.implicits._
        // pipeline-style quality gate: keep docs in healthy length/diversity band
        Tables.documents(s, d)
          .withColumn("__toks", tokens($"text"))
          .withColumn("n_tokens", tokenCountOfTokens($"__toks"))
          .withColumn("ttr", typeTokenRatioOfTokens($"__toks"))
          .filter($"n_tokens".between(10, 100) && $"ttr" > 0.3)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("sum_tokens"))
          .orderBy($"source")
      },
      Some("""
        SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM (
          SELECT source,
                 len(string_split(text,' ')) AS n_tokens,
                 CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                   / len(string_split(text,' ')) AS ttr
          FROM documents)
        WHERE n_tokens BETWEEN 10 AND 100 AND ttr > 0.3
        GROUP BY source
        ORDER BY source""")),

    // vocabulary-distribution audit: how heavy-tailed is the corpus?
    // (the shape that decides whether jaccardPairs needs its df cap and
    // which LSH parameters hold). Buckets are decade CASE arms — pure
    // integer logic, no log() float boundary risk cross-engine.
    QuerySpec(
      "q63_token_df_histogram",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("lang"), col("doc_id"),
            explode(array_distinct(tokens(col("text")))).as("tok"))
        val dfs = toks.groupBy(col("lang"), col("tok"))
          .agg(countDistinct(col("doc_id")).as("df"))
        dfs.withColumn("df_bucket",
            when(col("df") < 10, 0).when(col("df") < 100, 1)
              .when(col("df") < 1000, 2).otherwise(3))
          .groupBy(col("lang"), col("df_bucket"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("df")).cast("bigint").as("sum_df"))
          .orderBy(col("lang"), col("df_bucket"))
      },
      Some("""
        WITH dfs AS (
          SELECT lang, tok, COUNT(DISTINCT doc_id) AS df
          FROM (SELECT lang, doc_id,
                       unnest(list_distinct(string_split(text, ' '))) AS tok
                FROM documents)
          GROUP BY lang, tok)
        SELECT lang,
               CASE WHEN df < 10 THEN 0 WHEN df < 100 THEN 1
                    WHEN df < 1000 THEN 2 ELSE 3 END AS df_bucket,
               COUNT(*) AS n_tokens,
               CAST(SUM(df) AS BIGINT) AS sum_df
        FROM dfs
        GROUP BY 1, 2
        ORDER BY lang, df_bucket""")),

    // Sketch-first heavy hitters over the corpus bigram stream. The
    // oracle is the plain exact top-20 — valid because the recount is
    // exact and the MG superset guarantee covers rank 20 here
    // (summaryK=1024 vs the 20th-heaviest bigram at ~n/800 of the
    // stream at every SF; MisraGriesSuite gates the guarantee itself on
    // adversarial streams where summaryK ≪ vocabulary).
    QuerySpec(
      "q110_heavy_hitters",
      (s, d) => heavyHitters(Tables.documents(s, d),
        summaryK = 1024, topN = 20, n = 2),
      Some("""
        WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        b AS (SELECT unnest(list_transform(range(1, len(t)),
                       i -> t[i] || ' ' || t[i+1])) AS gram
              FROM t WHERE len(t) >= 2),
        c AS (SELECT gram, COUNT(*) AS cnt FROM b GROUP BY gram),
        top AS (SELECT gram, cnt FROM c ORDER BY cnt DESC, gram LIMIT 20)
        SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, gram) AS rnk, gram, cnt
        FROM top ORDER BY rnk""")),

    // Real BPE subword tokenization: fit on a bounded sample (memoized
    // per sf-dir; the one-time fit lands in the bench warmup), encode
    // the corpus per-partition with the broadcast model. No SQL oracle —
    // iterative merge training isn't expressible in one DuckDB query —
    // but the trainer and encoder are deterministic (count-DESC/pair-ASC
    // tie-break, rank-greedy inference) and BpeSuite pins hand-computed
    // merges and encodings.
    QuerySpec(
      "q112_bpe_tokens",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // 64 merges, NOT enough to fully fuse this corpus's ~31-word
        // vocabulary — with 200 the trainer collapses every trained word
        // to one symbol and the counts degenerate to whitespace counts
        val model = bpeModels.computeIfAbsent(d,
          dir => fitBpeModel(Tables.documents(s, dir), nMerges = 64))
        bpeTokenCounts(docs, model)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bpe_tokens")).cast("bigint").as("sum_bpe_tokens"))
          .join(docs.select(col("source"),
              tokenCount(col("text")).as("n_ws")).groupBy(col("source"))
            .agg(sum(col("n_ws")).cast("bigint").as("sum_ws_tokens")), "source")
          .orderBy(col("source"))
      },
      None),

    // Sequence packing on REAL BPE token counts — the budget the
    // training batch actually pays for (whitespace counts under-fill
    // context windows wherever BPE splits rare words). Composition of
    // q112's encoder with q67's packer. The iterative BPE fit is not
    // SQL-expressible, so the per-doc counts are PERSISTED to parquet
    // and the oracle reads them back — gating the full running-sum
    // `div` chunking algebra (the q67 gate) on the real counts, while
    // the counts themselves stay fixture-gated in BpeSuite. Both sides
    // read the SAME persisted file, so a count bug cannot hide in the
    // compare — it would need to break packer and oracle identically.
    QuerySpec(
      "q124_pack_bpe",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = bpeModels.computeIfAbsent(d,
          dir => fitBpeModel(Tables.documents(s, dir), nMerges = 64))
        bpeTokenCounts(docs, model)
          .write.mode("overwrite").parquet(bpeCountsPath(d))
        Pipeline.packSequences(s.read.parquet(bpeCountsPath(d)),
            budgetTokens = 512, tokenCountCol = Some("n_bpe_tokens"))
          .groupBy(col("source"), col("chunk_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("bigint").as("chunk_tokens"))
          .orderBy(col("source"), col("chunk_id"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id, source, n_bpe_tokens,
                 SUM(n_bpe_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM '$bpeCountsPathTemplate/*.parquet')
        SELECT source, CAST((cum - n_bpe_tokens) // 512 AS BIGINT) AS chunk_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_bpe_tokens) AS BIGINT) AS chunk_tokens
        FROM t GROUP BY source, chunk_id
        ORDER BY source, chunk_id""")),

    // Tokenizer-fertility audit (r13): chars/token and tokens/word per
    // source — the encoder-health companion to q165 for the LEXICAL
    // side (a source whose fertility drifts high is one the tokenizer
    // splits badly: boilerplate markup, unexpected scripts, a scraper
    // regression — and it silently pays more context budget per word).
    // Rides the SAME persisted per-doc BPE counts artifact as q124 —
    // the expensive encode never re-runs for this audit; the only
    // corpus touch is a map-side words/chars projection feeding a
    // |sources|-row aggregate. Ratios are exact integer micro-units
    // through DECIMAL(38,0) (the established envelope), so the audit
    // hash-gates.
    QuerySpec(
      "q170_tokenizer_fertility",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = bpeModels.computeIfAbsent(d,
          dir => fitBpeModel(Tables.documents(s, dir), nMerges = 64))
        bpeTokenCounts(docs, model)
          .write.mode("overwrite").parquet(bpeCountsPath(d))
        val bpe = s.read.parquet(bpeCountsPath(d))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bpe_tokens")).cast("bigint").as("sum_bpe"))
        val lex = docs.groupBy(col("source"))
          .agg(sum(tokenCount(col("text"))).cast("bigint").as("sum_words"),
            sum(length(col("text"))).cast("bigint").as("sum_chars"))
        bpe.join(lex, Seq("source"))
          .withColumn("tokens_per_word_micro",
            expr("CAST(sum_bpe AS DECIMAL(38,0)) * 1000000 div sum_words")
              .cast("long"))
          .withColumn("chars_per_token_micro",
            expr("CAST(sum_chars AS DECIMAL(38,0)) * 1000000 div sum_bpe")
              .cast("long"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH b AS (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(n_bpe_tokens) AS BIGINT) AS sum_bpe
          FROM '$bpeCountsPathTemplate/*.parquet' GROUP BY source),
        w AS (
          SELECT source,
                 CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS sum_words,
                 CAST(SUM(length(text)) AS BIGINT) AS sum_chars
          FROM documents GROUP BY source)
        SELECT b.source, n_docs, sum_bpe, sum_words, sum_chars,
               CAST(sum_bpe * 1000000 // sum_words AS BIGINT)
                 AS tokens_per_word_micro,
               CAST(sum_chars * 1000000 // sum_bpe AS BIGINT)
                 AS chars_per_token_micro
        FROM b JOIN w USING (source) ORDER BY source""")),

    // Hybrid retrieval: RRF-fuse the q73 lexical BM25 ranking with the
    // q40 semantic cosine ranking (documents and embeddings are
    // id-parallel views of the same corpus). Both legs are individually
    // oracle-proven; the fusion is exact integer micro-units, so the
    // composition carries a full oracle too.
    QuerySpec(
      "q130_hybrid_retrieval",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val lex = bm25TopK(docs, Seq("spark", "join", "window"), k = 30)
        val sem = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") === 0), k = 30)
          .select(col("nid").as("doc_id"), col("rnk").as("rn"))
        rrfFuse(Seq(lex.select(col("doc_id"), col("rn")), sem), topK = 15)
          .orderBy(col("fused_rank"))
      },
      Some("""
        WITH dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
        stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf
               FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
               WHERE term IN ('spark','join','window') GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        bscored AS (
          SELECT tf.doc_id,
                 round(SUM(round(
                   ln(1 + (stats.n - dfreq.df + 0.5)/(dfreq.df + 0.5)) *
                     (tf.tf * (1.2 + 1)) /
                     (tf.tf + 1.2*((1 - 0.75) + 0.75*dl.dl/stats.avgdl)), 6)), 4) AS score
          FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
          GROUP BY tf.doc_id),
        lex AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
          FROM bscored QUALIFY rn <= 30),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id = 0),
        sscored AS (
          SELECT c.vec_id AS nid,
                 list_reduce(list_prepend(0.0,
                   list_transform(list_zip(q.qv, c.v), p -> p[1] * p[2])),
                   (a, b) -> a + b)
                 / (sqrt(list_reduce(list_prepend(0.0,
                      list_transform(list_zip(q.qv, q.qv), p -> p[1] * p[2])), (a,b) -> a+b))
                  * sqrt(list_reduce(list_prepend(0.0,
                      list_transform(list_zip(c.v, c.v), p -> p[1] * p[2])), (a,b) -> a+b)))
                   AS cos
          FROM c CROSS JOIN q
          WHERE c.vec_id <> q.qid),
        sem AS (
          SELECT nid AS doc_id,
                 ROW_NUMBER() OVER (ORDER BY cos DESC, nid ASC) AS rn
          FROM sscored QUALIFY rn <= 30),
        contrib AS (
          SELECT doc_id, 1000000 // (60 + rn) AS cc FROM lex
          UNION ALL
          SELECT doc_id, 1000000 // (60 + rn) AS cc FROM sem),
        fused AS (
          SELECT doc_id, CAST(SUM(cc) AS BIGINT) AS rrf_micro,
                 CAST(COUNT(*) AS BIGINT) AS n_lists
          FROM contrib GROUP BY doc_id)
        SELECT doc_id, rrf_micro, n_lists,
               ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id) AS fused_rank
        FROM fused QUALIFY fused_rank <= 15
        ORDER BY fused_rank""")),

    // Vocabulary drift between the q107 snapshot pair: the injected
    // " v2" suffix, the dropped-every-7th docs, and the removed-every-
    // 11th docs all surface as token deltas. Deterministic top-50 by
    // (|Δ| desc, token asc) — a total order, so the set is engine-exact.
    QuerySpec(
      "q129_vocab_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        val newSnap = docs.filter(col("doc_id") % 11 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        vocabDrift(oldSnap, newSnap, topN = 50)
      },
      Some("""
        WITH old AS (
          SELECT unnest(string_split(text, ' ')) AS token
          FROM documents WHERE doc_id % 7 <> 0),
        new AS (
          SELECT unnest(string_split(
                   CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END,
                   ' ')) AS token
          FROM documents WHERE doc_id % 11 <> 0),
        oc AS (SELECT token, COUNT(*) AS n_old FROM old GROUP BY token),
        nc AS (SELECT token, COUNT(*) AS n_new FROM new GROUP BY token),
        j AS (SELECT token,
                     CAST(COALESCE(n_old, 0) AS BIGINT) AS n_old,
                     CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
              FROM oc FULL OUTER JOIN nc USING (token))
        SELECT token, n_old, n_new, delta, change FROM (
          SELECT token, n_old, n_new, n_new - n_old AS delta,
                 CASE WHEN n_old = 0 THEN 'new' WHEN n_new = 0 THEN 'gone'
                      WHEN n_new > n_old THEN 'grew' ELSE 'shrunk' END AS change
          FROM j)
        WHERE delta <> 0
        ORDER BY abs(delta) DESC, token
        LIMIT 50""")),

    // corpus-trained bigram LM fluency score, thresholded per language.
    // Gated through the MICRO tier: per-bigram log-probs round to integer
    // micro-nats before any aggregation, so every downstream number
    // (per-doc mean, per-lang sum, threshold count) is exact integer
    // arithmetic — addition order cannot perturb it, and the only float
    // step (ln itself) is correctly-rounded to well under a micro-unit on
    // both JVM Math.log and DuckDB's libm. The double tier
    // (bigramLmScore) stays the in-engine thresholding surface.
    // Threshold -3386000 µnat = the sf0.01 corpus median, so n_fluent is
    // a non-vacuous ~half split rather than a constant.
    QuerySpec(
      "q64_bigram_lm",
      (s, d) => {
        val docs = Tables.documents(s, d)
        bigramLmScoreMicro(docs)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("score_micro")).cast("bigint").as("sum_score_micro"),
            sum(when(col("score_micro") > -3386000L, 1).otherwise(0))
              .cast("bigint").as("n_fluent"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        bi0 AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], bg := t[i] || ' ' || t[i+1]))) AS e
          FROM toks),
        bi AS (SELECT doc_id, e.w1 AS w1, e.bg AS bg FROM bi0),
        cbg AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
        cw1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
        lp AS (
          SELECT doc_id,
                 CAST(round(ln(CAST(c2 AS DOUBLE) / c1) * 1e6) AS BIGINT) AS lp_micro
          FROM bi JOIN cbg USING (bg) JOIN cw1 USING (w1)),
        per_doc AS (
          SELECT doc_id, SUM(lp_micro) AS s, COUNT(*) AS n
          FROM lp GROUP BY doc_id),
        scored AS (
          SELECT doc_id,
                 CAST(sign(s) AS BIGINT) * ((abs(s)*2 + n) // (2*n)) AS score_micro
          FROM per_doc)
        SELECT d.lang, COUNT(*) AS n_docs,
               CAST(SUM(score_micro) AS BIGINT) AS sum_score_micro,
               CAST(SUM(CASE WHEN score_micro > -3386000 THEN 1 ELSE 0 END) AS BIGINT) AS n_fluent
        FROM scored JOIN documents d USING (doc_id)
        GROUP BY d.lang ORDER BY d.lang""")),

    // Fluency band trim (r13): the CCNet-style perplexity-band curation
    // move, fully engine-exact — per-doc bigram-LM surprisal (−score,
    // integer µnats, the q64 tier) enters the generic sketch band
    // machinery (valueThresholds/valueBandTrim, q160's kernel
    // generalized): keep docs inside each lang's [p10, p90] surprisal
    // band, dropping both gibberish (high surprisal) AND degenerate
    // templated text (suspiciously low). Bucket-space decisions ⇒ the
    // kept set hash-gates.
    QuerySpec(
      "q175_fluency_band_trim",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // one LM pass feeds BOTH the band fit and the trim
        val scored = bigramLmScoreMicro(docs)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .withColumn("surprisal_micro", -col("score_micro"))
          .localCheckpoint(false)
        val thr = HistogramSketch.valueThresholds(scored, "lang",
          col("surprisal_micro"), 10, 90)
        HistogramSketch.valueBandTrim(scored, "lang",
            col("surprisal_micro"), thr)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_bigrams")).cast("bigint").as("kept_bigrams"))
          .join(broadcast(thr), Seq("lang"))
          .select(col("lang"), col("n_kept"), col("kept_bigrams"),
            col("n_vals"), col("lo_rep"), col("hi_rep"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
          WHERE len(string_split(text, ' ')) >= 2),
        bi0 AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                   i -> struct_pack(w1 := t[i], bg := t[i] || ' ' || t[i+1]))) AS e
          FROM toks),
        bi AS (SELECT doc_id, e.w1 AS w1, e.bg AS bg FROM bi0),
        cbg AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
        cw1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
        lp AS (
          SELECT doc_id,
                 CAST(round(ln(CAST(c2 AS DOUBLE) / c1) * 1e6) AS BIGINT) AS lp_micro
          FROM bi JOIN cbg USING (bg) JOIN cw1 USING (w1)),
        per_doc AS (
          SELECT doc_id, SUM(lp_micro) AS s, COUNT(*) AS n
          FROM lp GROUP BY doc_id),
        scored AS (
          SELECT doc_id,
                 CAST(sign(s) AS BIGINT) * ((abs(s)*2 + n) // (2*n)) AS score_micro,
                 n AS n_bigrams
          FROM per_doc),
        r AS (
          SELECT d.lang, sc.n_bigrams,
                 ((-sc.score_micro) >> greatest(0, length(bin(-sc.score_micro)) - 1 - 5))
                   << greatest(0, length(bin(-sc.score_micro)) - 1 - 5) AS rep
          FROM scored sc JOIN documents d USING (doc_id)),
        g AS (SELECT lang, rep, COUNT(*) AS cnt FROM r GROUP BY lang, rep),
        c AS (SELECT lang, rep,
                     SUM(cnt) OVER (PARTITION BY lang ORDER BY rep) AS cum,
                     SUM(cnt) OVER (PARTITION BY lang) AS nv
              FROM g),
        thr AS (SELECT lang, CAST(MAX(nv) AS BIGINT) AS n_vals,
                       CAST(MIN(CASE WHEN cum >= (nv*10+99)//100 THEN rep END) AS BIGINT) AS lo_rep,
                       CAST(MIN(CASE WHEN cum >= (nv*90+99)//100 THEN rep END) AS BIGINT) AS hi_rep
                FROM c GROUP BY lang)
        SELECT r.lang, COUNT(*) AS n_kept,
               CAST(SUM(r.n_bigrams) AS BIGINT) AS kept_bigrams,
               t.n_vals, t.lo_rep, t.hi_rep
        FROM r JOIN thr t ON r.lang = t.lang
        WHERE r.rep >= t.lo_rep AND r.rep <= t.hi_rep
        GROUP BY r.lang, t.n_vals, t.lo_rep, t.hi_rep
        ORDER BY r.lang""")),

    QuerySpec(
      "q56_tfidf_terms",
      (s, d) => tfidfTopTerms(Tables.documents(s, d), "lang", 5)
        .orderBy(col("lang"), col("rn")),
      Some("""
        WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY lang, term),
        dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.lang, tf.term, tf.tf, dfreq.df,
                 round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
          FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
        ranked AS (
          SELECT lang, term, tf, df, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY tfidf DESC, term) AS rn
          FROM scored)
        SELECT lang, rn, term, tf, df, tfidf
        FROM ranked WHERE rn <= 5
        ORDER BY lang, rn""")),

    // Benchmark decontamination: docs with id < 20 stand in for the eval
    // set; the corpus (id ≥ 20) is audited for 4-gram overlap. 4-grams
    // measured non-vacuous on this corpus (36/480 docs flagged at
    // sf0.01) where 5-grams flag almost nothing and 3-grams almost
    // everything.
    QuerySpec(
      "q100_bloom_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") >= 20)
        val evalSet = docs.filter(col("doc_id") < 20)
        val hits = contaminatedIdsBloom(corpus, evalSet, n = 4,
            expectedItems = 10000L, numBits = 80000L)
          .withColumn("hit", lit(1))
        corpus.join(hits, Seq("doc_id"), "left_outer")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("hit")).as("n_contaminated"))
          .orderBy(col("source"))
      },
      // exact-equality oracle shared with q65: the Bloom stage is a
      // prefilter only — false positives die in the exact semi-join,
      // false negatives cannot exist — so the result must be identical.
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t FROM documents),
        g AS (SELECT doc_id, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        hits AS (SELECT DISTINCT g.doc_id FROM g JOIN eval_g USING (gram)
                 WHERE g.doc_id >= 20)
        SELECT source, COUNT(*) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM hits))
                    AS BIGINT) AS n_contaminated
        FROM documents WHERE doc_id >= 20
        GROUP BY source ORDER BY source""")),

    QuerySpec(
      "q65_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val corpus = docs.filter(col("doc_id") >= 20)
        val evalSet = docs.filter(col("doc_id") < 20)
        val hits = contaminatedIds(corpus, evalSet, n = 4)
          .withColumn("hit", lit(1))
        corpus.join(hits, Seq("doc_id"), "left_outer")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("hit")).as("n_contaminated"))
          .orderBy(col("source"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t FROM documents),
        g AS (SELECT doc_id, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        hits AS (SELECT DISTINCT g.doc_id FROM g JOIN eval_g USING (gram)
                 WHERE g.doc_id >= 20)
        SELECT source, COUNT(*) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM hits))
                    AS BIGINT) AS n_contaminated
        FROM documents WHERE doc_id >= 20
        GROUP BY source ORDER BY source""")),

    // Surgical span-level decontamination (r13): q65's eval split, but
    // only the leaked passage is cut — dedupSpans' coverage-rebuild
    // kernel fed by the BROADCAST eval gram set instead of the corpus
    // dup set. Full oracle down to the rebuilt text (q104's proven
    // formulation with eval_g in place of dfs).
    QuerySpec(
      "q173_decontaminate_spans",
      (s, d) => {
        val docs = Tables.documents(s, d)
        decontaminateSpans(docs.filter(col("doc_id") >= 20),
            docs.filter(col("doc_id") < 20), n = 4)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        starts AS (SELECT doc_id, list(DISTINCT pos) AS ss
                   FROM g WHERE doc_id >= 20
                     AND gram IN (SELECT gram FROM eval_g)
                   GROUP BY doc_id),
        kept AS (
          SELECT toks.doc_id, toks.source,
                 len(toks.t) AS n_tokens,
                 list_filter(range(1, len(toks.t)+1),
                   p -> len(list_filter(COALESCE(starts.ss, []),
                            s -> p >= s AND p <= s + 3)) = 0) AS kp,
                 toks.t AS t
          FROM toks LEFT JOIN starts USING (doc_id)
          WHERE toks.doc_id >= 20)
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_tokens - len(kp) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(list_transform(kp, p -> t[p]), ' '), '')
                 AS clean_text
        FROM kept
        ORDER BY doc_id""")),

    // The SERVE tier of q173 as its own oracle-gated query (r14): the
    // identical cut computed with ZERO joins — the eval gram set is
    // driver-collected (evalGramStrings, the fitted-model collect class)
    // and compiles into the plan as the codegen'd gram_set_starts
    // HashSet probe. The oracle is q173's proven rebuild SQL VERBATIM:
    // the hash gate drives the serve ≡ batch identity through the
    // driver's own DuckDB compare (991 grams at sf0.01; the >4096-gram
    // panel the old literal-map cap excluded is CurationOpsSuite's
    // 5500-gram parity gate).
    QuerySpec(
      "q179_decontaminate_serve",
      (s, d) => {
        val docs = Tables.documents(s, d)
        decontaminateSpansServe(docs.filter(col("doc_id") >= 20),
            evalGramStrings(docs.filter(col("doc_id") < 20), n = 4), n = 4)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        starts AS (SELECT doc_id, list(DISTINCT pos) AS ss
                   FROM g WHERE doc_id >= 20
                     AND gram IN (SELECT gram FROM eval_g)
                   GROUP BY doc_id),
        kept AS (
          SELECT toks.doc_id, toks.source,
                 len(toks.t) AS n_tokens,
                 list_filter(range(1, len(toks.t)+1),
                   p -> len(list_filter(COALESCE(starts.ss, []),
                            s -> p >= s AND p <= s + 3)) = 0) AS kp,
                 toks.t AS t
          FROM toks LEFT JOIN starts USING (doc_id)
          WHERE toks.doc_id >= 20)
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_tokens - len(kp) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(list_transform(kp, p -> t[p]), ' '), '')
                 AS clean_text
        FROM kept
        ORDER BY doc_id""")),

    // Graded contamination: same eval-set split as q65/q100, but counts
    // per-doc distinct-gram overlap instead of a binary flag — the
    // quarantine-by-degree signal. Integer counts only; deterministic
    // ordering by doc_id.
    QuerySpec(
      "q103_contamination_rate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        contaminationRate(docs.filter(col("doc_id") >= 20),
            docs.filter(col("doc_id") < 20), n = 4)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
        SELECT doc_id, COUNT(*) AS n_grams,
               CAST(COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM eval_g))
                    AS BIGINT) AS contam_grams
        FROM g WHERE doc_id >= 20
        GROUP BY doc_id
        HAVING COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM eval_g)) >= 1
        ORDER BY doc_id""")),

    // Graded contamination served FROM the span index (r14): q103's
    // quarantine-by-degree counts computed entirely from pos/ — the
    // corpus never re-read or re-tokenized. The oracle is the direct
    // q103 construction over the indexed docs (the serve-from-index
    // identity, the q174 discipline).
    QuerySpec(
      "q181_contamination_rate_from_index",
      (s, d) => {
        val docs = Tables.documents(s, d)
        contaminationRateFromIndex(s, cachedContamIndex(s, d),
            docs.filter(col("doc_id") < 20), n = 4)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        eval_g AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
        SELECT doc_id, COUNT(*) AS n_grams,
               CAST(COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM eval_g))
                    AS BIGINT) AS contam_grams
        FROM g WHERE doc_id >= 40
        GROUP BY doc_id
        HAVING COUNT(*) FILTER (WHERE gram IN (SELECT gram FROM eval_g)) >= 1
        ORDER BY doc_id""")),

    // Multi-eval contamination MATRIX (r12): two tagged benchmark splits
    // screened by ONE corpus gram pass — per (source, eval) distinct
    // contaminated docs + integer-µ rate; the view that says which
    // sources leak which benchmarks before any doc is dropped.
    QuerySpec(
      "q167_contamination_matrix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        contaminationMatrix(docs.filter(col("doc_id") >= 40),
            Seq("evalA" -> docs.filter(col("doc_id") < 20),
              "evalB" -> docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)),
            n = 4)
          .orderBy(col("source"), col("eval_name"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, source, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        ev AS (
          SELECT DISTINCT gram, 'evalA' AS eval_name FROM g WHERE doc_id < 20
          UNION
          SELECT DISTINCT gram, 'evalB' AS eval_name FROM g
          WHERE doc_id >= 20 AND doc_id < 40),
        hits AS (
          SELECT DISTINCT g.doc_id, g.source, ev.eval_name
          FROM g JOIN ev USING (gram) WHERE g.doc_id >= 40),
        totals AS (
          SELECT source, COUNT(*) AS n_docs FROM documents
          WHERE doc_id >= 40 GROUP BY source)
        SELECT h.source, h.eval_name,
               CAST(COUNT(*) AS BIGINT) AS n_contaminated,
               CAST(t.n_docs AS BIGINT) AS n_docs,
               CAST((COUNT(*) * 1000000) // t.n_docs AS BIGINT)
                 AS contam_rate_micro
        FROM hits h JOIN totals t ON t.source = h.source
        GROUP BY h.source, h.eval_name, t.n_docs
        ORDER BY h.source, h.eval_name""")),

    // Contamination matrix served FROM the persisted span index (r13):
    // the nightly tier — a NEW benchmark screens against the corpus's
    // positioned-gram index (pos/), never re-reading or re-tokenizing
    // corpus text; only the 2-column id→source meta projection is
    // touched. The oracle is LITERALLY q167's direct-pass construction
    // — the hash gate proves the serve-from-index identity (the
    // q157/q159 discipline).
    QuerySpec(
      "q174_contamination_from_index",
      (s, d) => {
        val docs = Tables.documents(s, d)
        contaminationMatrixFromIndex(s, cachedContamIndex(s, d),
            Seq("evalA" -> docs.filter(col("doc_id") < 20),
              "evalB" -> docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)),
            docs.filter(col("doc_id") >= 40), n = 4)
          .orderBy(col("source"), col("eval_name"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, source, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        ev AS (
          SELECT DISTINCT gram, 'evalA' AS eval_name FROM g WHERE doc_id < 20
          UNION
          SELECT DISTINCT gram, 'evalB' AS eval_name FROM g
          WHERE doc_id >= 20 AND doc_id < 40),
        hits AS (
          SELECT DISTINCT g.doc_id, g.source, ev.eval_name
          FROM g JOIN ev USING (gram) WHERE g.doc_id >= 40),
        totals AS (
          SELECT source, COUNT(*) AS n_docs FROM documents
          WHERE doc_id >= 40 GROUP BY source)
        SELECT h.source, h.eval_name,
               CAST(COUNT(*) AS BIGINT) AS n_contaminated,
               CAST(t.n_docs AS BIGINT) AS n_docs,
               CAST((COUNT(*) * 1000000) // t.n_docs AS BIGINT)
                 AS contam_rate_micro
        FROM hits h JOIN totals t ON t.source = h.source
        GROUP BY h.source, h.eval_name, t.n_docs
        ORDER BY h.source, h.eval_name""")),

    // Contamination DRIFT between index generations (r14): the
    // per-(source, eval) matrix DELTA between the last audit's snapshot
    // ([40, 90)) and the grown corpus (>= 40) — which sources got
    // cleaner/dirtier since. The oracle is TWO direct q167
    // constructions full-outer-diffed in exact integer µ.
    QuerySpec(
      "q178_contamination_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
        contaminationDrift(s,
            cachedContamIndexOld(s, d), cachedContamIndex(s, d),
            Seq("evalA" -> docs.filter(col("doc_id") < 20),
              "evalB" -> docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)),
            docs.filter(col("doc_id") >= 40 && col("doc_id") < 90),
            docs.filter(col("doc_id") >= 40), n = 4)
          .orderBy(col("source"), col("eval_name"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, source, array_to_string(t[i:i+3],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        ev AS (
          SELECT DISTINCT gram, 'evalA' AS eval_name FROM g WHERE doc_id < 20
          UNION
          SELECT DISTINCT gram, 'evalB' AS eval_name FROM g
          WHERE doc_id >= 20 AND doc_id < 40),
        mo AS (
          SELECT h.source, h.eval_name,
                 CAST(COUNT(*) AS BIGINT) AS contam_docs_old,
                 CAST((COUNT(*) * 1000000) // t.n_docs AS BIGINT)
                   AS rate_old_micro
          FROM (SELECT DISTINCT g.doc_id, g.source, ev.eval_name
                FROM g JOIN ev USING (gram)
                WHERE g.doc_id >= 40 AND g.doc_id < 90) h
          JOIN (SELECT source, COUNT(*) AS n_docs FROM documents
                WHERE doc_id >= 40 AND doc_id < 90 GROUP BY source) t
            ON t.source = h.source
          GROUP BY h.source, h.eval_name, t.n_docs),
        mn AS (
          SELECT h.source, h.eval_name,
                 CAST(COUNT(*) AS BIGINT) AS contam_docs_new,
                 CAST((COUNT(*) * 1000000) // t.n_docs AS BIGINT)
                   AS rate_new_micro
          FROM (SELECT DISTINCT g.doc_id, g.source, ev.eval_name
                FROM g JOIN ev USING (gram)
                WHERE g.doc_id >= 40) h
          JOIN (SELECT source, COUNT(*) AS n_docs FROM documents
                WHERE doc_id >= 40 GROUP BY source) t
            ON t.source = h.source
          GROUP BY h.source, h.eval_name, t.n_docs)
        SELECT COALESCE(mo.source, mn.source) AS source,
               COALESCE(mo.eval_name, mn.eval_name) AS eval_name,
               CAST(COALESCE(mo.contam_docs_old, 0) AS BIGINT)
                 AS contam_docs_old,
               CAST(COALESCE(mo.rate_old_micro, 0) AS BIGINT)
                 AS rate_old_micro,
               CAST(COALESCE(mn.contam_docs_new, 0) AS BIGINT)
                 AS contam_docs_new,
               CAST(COALESCE(mn.rate_new_micro, 0) AS BIGINT)
                 AS rate_new_micro,
               CAST(COALESCE(mn.contam_docs_new, 0)
                 - COALESCE(mo.contam_docs_old, 0) AS BIGINT) AS delta_docs,
               CAST(COALESCE(mn.rate_new_micro, 0)
                 - COALESCE(mo.rate_old_micro, 0) AS BIGINT)
                 AS delta_rate_micro
        FROM mo FULL OUTER JOIN mn
          ON mo.source = mn.source AND mo.eval_name = mn.eval_name
        ORDER BY source, eval_name""")),

    QuerySpec(
      "q66_blocklist_filter",
      (s, d) => blocklistFilter(Tables.documents(s, d), Seq("stream", "batch"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("sum_chars"))
        .orderBy(col("lang")),
      Some("""
        SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE len(list_intersect(string_split(text,' '), ['stream','batch'])) = 0
        GROUP BY lang ORDER BY lang""")),

    // Gopher-style repetition quality rollup: integer counts all the way
    // (the struct carries counts, not fractions), one division at the
    // end, and the per-doc "repetitive" flag is a pure integer compare
    // (dup/total > 0.15 ⇔ dup*20 > total*3) — no float boundary risk.
    // Threshold measured non-vacuous on this corpus: 32/500 docs at
    // sf0.01 (0.10 flags 94, 0.20 flags 3).
    QuerySpec(
      "q68_repetition_stats",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("lang"), repetitionStats(col("text"), 2).as("r"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("r.n_dup")).as("sum_dup"),
            sum(col("r.n_grams")).as("sum_bigrams"),
            (sum(col("r.n_dup")).cast("double") / sum(col("r.n_grams")))
              .as("dup_frac"),
            sum(when(col("r.n_dup") * 20 > col("r.n_grams") * 3, 1).otherwise(0))
              .as("n_repetitive"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS toks FROM documents),
        bg AS (SELECT doc_id, array_to_string(toks[i:i+1],' ') AS bg
               FROM t, UNNEST(generate_series(1, greatest(len(toks)-1,0))) AS u(i)),
        cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
        perdoc AS (SELECT doc_id, SUM(c) AS n_bg,
                          SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS n_dup
                   FROM cnt GROUP BY doc_id)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(COALESCE(n_dup, 0)) AS BIGINT) AS sum_dup,
               CAST(SUM(COALESCE(n_bg, 0)) AS BIGINT) AS sum_bigrams,
               CAST(SUM(COALESCE(n_dup, 0)) AS DOUBLE)
                 / SUM(COALESCE(n_bg, 0)) AS dup_frac,
               CAST(SUM(CASE WHEN COALESCE(n_dup, 0) * 20 > COALESCE(n_bg, 0) * 3
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        FROM t LEFT JOIN perdoc USING (doc_id)
        GROUP BY lang
        ORDER BY lang""")),

    // Composite quality ensemble, rolled up per lang. The double sum
    // routes through DECIMAL(18,6) (exact, order-independent) and back —
    // the established cross-engine pattern for summing doubles.
    QuerySpec(
      "q75_quality_score",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("lang"), tokens(col("text")).as("__toks"))
          .select(col("lang"), qualityScoreOfTokens(col("__toks")).as("score"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("score") >= 0.6, 1).otherwise(0)).cast("bigint").as("n_passing"),
            sum(col("score").cast("decimal(18,6)")).cast("double").as("sum_score"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH s AS (
          SELECT lang,
            CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
              / len(string_split(text,' ')) AS ttr,
            CAST(len(list_filter(string_split(text,' '),
                 t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
              / len(string_split(text,' ')) AS stop_ratio,
            least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100, 1.0) AS len_norm
          FROM documents),
        q AS (SELECT lang,
                round(0.4*ttr + 0.3*(1 - stop_ratio) + 0.3*len_norm, 6) AS score
              FROM s)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN score >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_passing,
               CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
        FROM q GROUP BY lang ORDER BY lang""")),

    // Term redaction over the corpus vocabulary (the corpus has no
    // natural PII strings, so the oracle gates whole-token masking on
    // vocabulary terms; the email/number patterns are fixture-tested in
    // CurationOpsSuite). Counting the mask token AFTER replacement gates
    // the rewritten text itself, not just a match count.
    QuerySpec(
      "q76_redact",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("lang"),
            redact(col("text"), Seq("customer", "spark", "vector")).as("red"))
          .select(col("lang"),
            size(filter(tokens(col("red")), t => t === "<MASK>")).as("n_masked"),
            length(col("red")).as("len_after"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_masked") > 0, 1).otherwise(0)).cast("bigint").as("n_redacted_docs"),
            sum(col("n_masked")).cast("bigint").as("n_masked"),
            sum(col("len_after")).cast("bigint").as("sum_chars"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH r AS (
          SELECT lang, regexp_replace(text, '\b(customer|spark|vector)\b', '<MASK>', 'g') AS red
          FROM documents),
        m AS (SELECT lang,
                len(list_filter(string_split(red,' '), t -> t = '<MASK>')) AS n_masked,
                length(red) AS len_after FROM r)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN n_masked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted_docs,
          CAST(SUM(n_masked) AS BIGINT) AS n_masked,
          CAST(SUM(len_after) AS BIGINT) AS sum_chars
        FROM m GROUP BY lang ORDER BY lang""")),

    // Token-window chunking (64-token chunks, stride 32 → 50% overlap).
    // Gated row-level on the md5 of each chunk's text — the oracle
    // verifies the exact chunk CONTENT and boundaries, not just counts.
    QuerySpec(
      "q82_chunk_docs",
      (s, d) => chunkDocs(Tables.documents(s, d), chunkTokens = 64, stride = 32)
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (
          SELECT doc_id, toks, unnest(generate_series(0, len(toks)-1, 32)) AS start
          FROM t)
        SELECT doc_id, CAST(start // 32 AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(toks, start+1, start+64)) AS BIGINT) AS n_chunk_tokens,
               md5(array_to_string(list_slice(toks, start+1, start+64), ' ')) AS chunk_md5
        FROM s ORDER BY doc_id, chunk_idx""")),

    // BM25 keyword retrieval. The oracle spells the score arithmetic in
    // the SAME operation order as the Spark plan (including `(1.2 + 1)`
    // rather than the non-identical double literal 2.2) so both engines
    // produce bit-identical doubles before the deterministic rounds.
    QuerySpec(
      "q73_bm25",
      (s, d) => bm25TopK(Tables.documents(s, d),
          Seq("spark", "join", "window"), k = 10)
        .orderBy(col("rn")),
      Some("""
        WITH dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
        stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf
               FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents)
               WHERE term IN ('spark','join','window') GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT tf.doc_id,
                 round(SUM(round(
                   ln(1 + (stats.n - dfreq.df + 0.5)/(dfreq.df + 0.5)) *
                     (tf.tf * (1.2 + 1)) /
                     (tf.tf + 1.2*((1 - 0.75) + 0.75*dl.dl/stats.avgdl)), 6)), 4) AS score
          FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
          GROUP BY tf.doc_id)
        SELECT doc_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
        FROM scored QUALIFY rn <= 10
        ORDER BY rn""")),

    // Span-level duplication rollup: per source, docs whose 6-token spans
    // are >= 25% corpus-duplicated (the dup_grams*4 >= n_grams compare is
    // integer — no double ratio crosses the engine boundary).
    QuerySpec(
      "q90_dup_spans",
      (s, d) => dupSpanStats(Tables.documents(s, d), n = 6)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("dup_grams") * 4 >= col("n_grams"), 1))
            .as("n_flagged"),
          sum(col("n_grams")).cast("bigint").as("n_grams"),
          sum(col("dup_grams")).cast("bigint").as("n_dup_grams"))
        .orderBy(col("source")),
      Some("""
        WITH toks AS (
          SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        g AS (
          SELECT DISTINCT doc_id, source, array_to_string(t[i:i+5], ' ') AS gram
          FROM toks, UNNEST(generate_series(1, greatest(len(t)-5, 0))) AS u(i)),
        df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
        perdoc AS (
          SELECT doc_id, source, COUNT(*) AS n_grams,
                 COUNT(*) FILTER (WHERE df > 1) AS dup_grams
          FROM g JOIN df USING (gram) GROUP BY doc_id, source)
        SELECT source, COUNT(*) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE dup_grams*4 >= n_grams) AS BIGINT)
                 AS n_flagged,
               CAST(SUM(n_grams) AS BIGINT) AS n_grams,
               CAST(SUM(dup_grams) AS BIGINT) AS n_dup_grams
        FROM perdoc GROUP BY source ORDER BY source""")),

    // Production tier of the same audit: xxhash64 gram keys (engine-
    // specific → rows-only; CurationOpsSuite gates hashed == string
    // output). This is the formulation the sf0.1 bench times — q90's
    // string-keyed exact mode exists for the DuckDB oracle at sf0.01.
    QuerySpec(
      "q93_dup_spans_hashed",
      (s, d) => dupSpanStats(Tables.documents(s, d), n = 6, hashGrams = true)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("dup_grams") * 4 >= col("n_grams"), 1))
            .as("n_flagged"),
          sum(col("n_grams")).cast("bigint").as("n_grams"),
          sum(col("dup_grams")).cast("bigint").as("n_dup_grams"))
        .orderBy(col("source")),
      None),

    // Span-removal twins of q90/q93: rewrite docs dropping tokens under
    // cross-doc duplicated 6-gram spans. q104 = exact string-gram tier,
    // full DuckDB oracle down to the rebuilt text; q105 = hashed-key
    // production tier (rows-only by design — a hash collision could
    // remove an extra span; CurationOpsSuite gates hashed == string).
    // The spec filters to touched docs so the output is the interesting
    // set; ordering by doc_id is deterministic.
    QuerySpec(
      "q104_dedup_spans",
      (s, d) => dedupSpans(Tables.documents(s, d), n = 6)
        .filter(col("n_removed") > 0)
        .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t FROM documents),
        g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+5],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-5, 0))) AS u(i)),
        dfs AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram),
        starts AS (SELECT g.doc_id, list(DISTINCT g.pos) AS ss
                   FROM g JOIN dfs USING (gram) WHERE dfs.df > 1
                   GROUP BY g.doc_id),
        kept AS (
          SELECT toks.doc_id, toks.source,
                 len(toks.t) AS n_tokens,
                 list_filter(range(1, len(toks.t)+1),
                   p -> len(list_filter(COALESCE(starts.ss, []),
                            s -> p >= s AND p <= s + 5)) = 0) AS kp,
                 toks.t AS t
          FROM toks LEFT JOIN starts USING (doc_id))
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_tokens - len(kp) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(list_transform(kp, p -> t[p]), ' '), '')
                 AS clean_text
        FROM kept
        WHERE n_tokens - len(kp) > 0
        ORDER BY doc_id""")),

    QuerySpec(
      "q105_dedup_spans_hashed",
      (s, d) => dedupSpans(Tables.documents(s, d), n = 6, hashGrams = true)
        .filter(col("n_removed") > 0)
        .sortWithinPartitions(col("doc_id")), // rows-only: see q46 note
      None),

    // Content-defined chunking (r10): rolling-hash boundaries (trailing
    // 8 chars, (acc*31+code) % 1000003, boundary when h % 32 == 0) —
    // the rsync/LBFS rule; the oracle replays the identical integer
    // recurrence per position and re-derives every chunk + digest.
    QuerySpec(
      "q151_cdc_chunks",
      (s, d) => cdcChunks(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""
        WITH ch AS (
          SELECT doc_id, text, string_split(text, '') AS cs,
                 len(string_split(text, '')) AS n
          FROM documents),
        co AS (SELECT doc_id, text, n,
                      list_transform(cs, c -> ascii(c)) AS codes
               FROM ch),
        hs AS (
          SELECT doc_id, text, n, u.p AS p,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   codes[u.p - 7 : u.p]),
                   (acc, c) -> (acc * 31 + c) % 1000003) AS h
          FROM co, UNNEST(generate_series(8, n)) AS u(p)),
        bounds AS (
          SELECT doc_id, list(p ORDER BY p) AS b
          FROM hs WHERE h % 32 = 0 GROUP BY doc_id),
        ends AS (
          SELECT c.doc_id, c.text, c.n,
                 CASE WHEN b.b IS NULL THEN [c.n]
                      WHEN b.b[-1] <> c.n THEN list_append(b.b, c.n)
                      ELSE b.b END AS e
          FROM co c LEFT JOIN bounds b USING (doc_id)),
        idx AS (
          SELECT doc_id, text, e, u.k AS k
          FROM ends, UNNEST(generate_series(1, len(e))) AS u(k))
        SELECT doc_id,
               CAST(k - 1 AS BIGINT) AS chunk_idx,
               CAST(CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END
                    AS BIGINT) AS chunk_start,
               CAST(e[k] - (CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END) + 1
                    AS BIGINT) AS chunk_len,
               md5(text[(CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END):e[k]])
                 AS digest
        FROM idx
        ORDER BY doc_id, chunk_idx""")),

    // CDC near-dup doc pairs (r10): shared-chunk-digest candidates with
    // the prospective cap, containment fraction vs the a-side's chunk
    // types — the FastCDC dedup application; the oracle replays the
    // chunking recurrence and the full pair algebra.
    QuerySpec(
      "q152_cdc_neardup",
      (s, d) => cdcNearDupPairs(Tables.documents(s, d), minFrac = 0.25)
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""
        WITH ch AS (
          SELECT doc_id, text, string_split(text, '') AS cs,
                 len(string_split(text, '')) AS n
          FROM documents),
        co AS (SELECT doc_id, text, n,
                      list_transform(cs, c -> ascii(c)) AS codes
               FROM ch),
        hs AS (
          SELECT doc_id, text, n, u.p AS p,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   codes[u.p - 7 : u.p]),
                   (acc, c) -> (acc * 31 + c) % 1000003) AS h
          FROM co, UNNEST(generate_series(8, n)) AS u(p)),
        bounds AS (
          SELECT doc_id, list(p ORDER BY p) AS b
          FROM hs WHERE h % 32 = 0 GROUP BY doc_id),
        ends AS (
          SELECT c.doc_id, c.text, c.n,
                 CASE WHEN b.b IS NULL THEN [c.n]
                      WHEN b.b[-1] <> c.n THEN list_append(b.b, c.n)
                      ELSE b.b END AS e
          FROM co c LEFT JOIN bounds b USING (doc_id)),
        idx AS (
          SELECT doc_id, text, e, u.k AS k
          FROM ends, UNNEST(generate_series(1, len(e))) AS u(k)),
        dg AS (
          SELECT DISTINCT doc_id,
                 md5(text[(CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END):e[k]])
                   AS digest
          FROM idx),
        keyed AS (
          SELECT doc_id, digest,
                 COUNT(*) OVER (PARTITION BY doc_id) AS n_key,
                 COUNT(*) OVER (PARTITION BY digest) AS bn
          FROM dg),
        capped AS (SELECT * FROM keyed WHERE bn <= 64),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.n_key AS n_key_a, b.n_key AS n_key_b,
                 COUNT(*) AS n_shared
          FROM capped a JOIN capped b
            ON a.digest = b.digest AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
               CAST(n_key_a AS BIGINT) AS n_key_a,
               CAST(n_key_b AS BIGINT) AS n_key_b,
               ROUND(CAST(n_shared AS DOUBLE) / n_key_a, 6) AS shared_frac
        FROM pairs
        WHERE ROUND(CAST(n_shared AS DOUBLE) / n_key_a, 6) >= 0.25
        ORDER BY doc_a, doc_b""")),

    // Clamped CDC chunking (r12): the production FastCDC/rsync tier —
    // boundary candidates under minLen=16 from the chunk start are
    // skipped, a cut is forced at maxLen=64. The oracle replays the
    // SEQUENTIAL clamp walk as a RECURSIVE CTE: from each boundary e the
    // next is the first candidate in [e+16, e+63] (the candidate set
    // comes from the same rolling-hash recurrence as q151) else the
    // forced e+64, capped at the text end. (A list_reduce fold with a
    // growing list accumulator mis-evaluates under DuckDB 1.0's lambda
    // vectorization — conditional appends silently drop earlier
    // elements — so the walk is recursion, not a fold.) Both clamps
    // fire at sf0.01.
    QuerySpec(
      "q154_cdc_clamped",
      (s, d) => cdcChunksClamped(Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""
        WITH RECURSIVE ch AS (
          SELECT doc_id, text, string_split(text, '') AS cs,
                 len(string_split(text, '')) AS n
          FROM documents),
        co AS (SELECT doc_id, text, n,
                      list_transform(cs, c -> ascii(c)) AS codes
               FROM ch),
        hs AS (
          SELECT doc_id, u.p AS p,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   codes[u.p - 7 : u.p]),
                   (acc, c) -> (acc * 31 + c) % 1000003) AS h
          FROM co, UNNEST(generate_series(8, n)) AS u(p)),
        cand AS (
          SELECT doc_id, list(CAST(p AS BIGINT) ORDER BY p) AS cl
          FROM hs WHERE h % 32 = 0 GROUP BY doc_id),
        base AS (SELECT c.doc_id, c.n, COALESCE(b.cl, []) AS cl
                 FROM co c LEFT JOIN cand b USING (doc_id)),
        rec AS (
          SELECT doc_id, CAST(0 AS BIGINT) AS e, n, cl FROM base
          UNION ALL
          SELECT doc_id,
                 LEAST(COALESCE(
                     list_filter(cl, c -> c - e >= 16 AND c - e < 64)[1],
                     e + 64), CAST(n AS BIGINT)) AS e, n, cl
          FROM rec WHERE e < n),
        bl AS (SELECT doc_id, list(e ORDER BY e) AS e0
               FROM rec WHERE e > 0 GROUP BY doc_id),
        ends AS (
          SELECT c.doc_id, c.text, c.n,
                 CASE WHEN b.e0 IS NULL THEN [CAST(c.n AS BIGINT)]
                      ELSE b.e0 END AS e
          FROM co c LEFT JOIN bl b USING (doc_id)),
        idx AS (
          SELECT doc_id, text, e, u.k AS k
          FROM ends, UNNEST(generate_series(1, len(e))) AS u(k))
        SELECT doc_id,
               CAST(k - 1 AS BIGINT) AS chunk_idx,
               CAST(CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END
                    AS BIGINT) AS chunk_start,
               CAST(e[k] - (CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END) + 1
                    AS BIGINT) AS chunk_len,
               md5(text[(CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END):e[k]])
                 AS digest
        FROM idx
        ORDER BY doc_id, chunk_idx""")),

    // Incremental CDC dedup (r12): the batch (doc_id >= 250) probes the
    // PERSISTED chunk-digest index of the corpus generation (< 250) —
    // partition-pruned 16-byte digest reads, work ∝ batch, corpus text
    // never re-chunked; cross + within-batch pairs, never corpus×corpus.
    // The digest cap applies per generation (the standing incremental
    // contract). md5 digests are engine-portable, so the family stays
    // fully hash-gated: the oracle replays the chunk recurrence, the
    // per-generation cap, and the exact pair algebra on the union.
    QuerySpec(
      "q153_cdc_neardup_incr",
      (s, d) => {
        val docs = Tables.documents(s, d)
        cdcNearDupIngest(docs.filter(col("doc_id") >= 250),
            cachedCdcIndex(s, d), minFrac = 0.25, append = false)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""
        WITH ch AS (
          SELECT doc_id, text, string_split(text, '') AS cs,
                 len(string_split(text, '')) AS n
          FROM documents),
        co AS (SELECT doc_id, text, n,
                      list_transform(cs, c -> ascii(c)) AS codes
               FROM ch),
        hs AS (
          SELECT doc_id, text, n, u.p AS p,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   codes[u.p - 7 : u.p]),
                   (acc, c) -> (acc * 31 + c) % 1000003) AS h
          FROM co, UNNEST(generate_series(8, n)) AS u(p)),
        bounds AS (
          SELECT doc_id, list(p ORDER BY p) AS b
          FROM hs WHERE h % 32 = 0 GROUP BY doc_id),
        ends AS (
          SELECT c.doc_id, c.text, c.n,
                 CASE WHEN b.b IS NULL THEN [c.n]
                      WHEN b.b[-1] <> c.n THEN list_append(b.b, c.n)
                      ELSE b.b END AS e
          FROM co c LEFT JOIN bounds b USING (doc_id)),
        idx AS (
          SELECT doc_id, text, e, u.k AS k
          FROM ends, UNNEST(generate_series(1, len(e))) AS u(k)),
        dg AS (
          SELECT DISTINCT doc_id,
                 md5(text[(CASE WHEN k = 1 THEN 1 ELSE e[k - 1] + 1 END):e[k]])
                   AS digest
          FROM idx),
        keyed AS (
          SELECT doc_id, digest,
                 COUNT(*) OVER (PARTITION BY doc_id) AS n_key,
                 COUNT(*) OVER (PARTITION BY digest,
                   CASE WHEN doc_id < 250 THEN 0 ELSE 1 END) AS bn
          FROM dg),
        capped AS (SELECT * FROM keyed WHERE bn <= 64),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.n_key AS n_key_a, b.n_key AS n_key_b,
                 COUNT(*) AS n_shared
          FROM capped a JOIN capped b
            ON a.digest = b.digest AND a.doc_id < b.doc_id
           AND b.doc_id >= 250
          GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
               CAST(n_key_a AS BIGINT) AS n_key_a,
               CAST(n_key_b AS BIGINT) AS n_key_b,
               ROUND(CAST(n_shared AS DOUBLE) / n_key_a, 6) AS shared_frac
        FROM pairs
        WHERE ROUND(CAST(n_shared AS DOUBLE) / n_key_a, 6) >= 0.25
        ORDER BY doc_a, doc_b""")),

    // Incremental maximal-span extraction (r10): the corpus participates
    // only through its persisted span index — batch docs' spans under
    // the union df, plus FULL recomputed span sets for corpus docs whose
    // previously-unique gram the batch just duplicated (found via the
    // solo_doc_id rider, no gram→doc scan). The oracle re-derives both
    // generations' dfs and the exact batch/retro split on the union.
    QuerySpec(
      "q146_dup_spans_incr",
      (s, d) => {
        val docs = Tables.documents(s, d)
        dupSpansIncremental(docs.filter(col("doc_id") < 250),
            cachedSpanIndex(s, d), n = 6, append = false)
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+5],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-5, 0))) AS u(i)),
        dfs AS (SELECT gram,
                       COUNT(DISTINCT CASE WHEN doc_id >= 250 THEN doc_id END) AS dfc,
                       COUNT(DISTINCT CASE WHEN doc_id < 250 THEN doc_id END) AS dfb
                FROM g GROUP BY gram),
        dup AS (SELECT gram FROM dfs WHERE dfc + dfb >= 2),
        aff AS (SELECT DISTINCT g.doc_id
                FROM g JOIN dfs USING (gram)
                WHERE g.doc_id >= 250 AND dfs.dfc = 1 AND dfs.dfb >= 1),
        s AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)
              WHERE g.doc_id < 250 OR g.doc_id IN (SELECT doc_id FROM aff)),
        l AS (SELECT doc_id, pos,
                CASE WHEN LAG(pos) OVER w IS NULL
                       OR pos - LAG(pos) OVER w > 6
                     THEN 1 ELSE 0 END AS brk
              FROM s
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        i AS (SELECT doc_id, pos,
                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM l)
        SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) - MIN(pos) + 6 AS BIGINT) AS span_len,
               CASE WHEN doc_id < 250 THEN 'batch' ELSE 'retro' END AS generation
        FROM i GROUP BY doc_id, island
        ORDER BY doc_id, span_start""")),

    // Incremental span REMOVAL (r10): batch docs rewritten dropping
    // union-df duplicated coverage on ingest — the q104 rewrite fed by
    // the q146 index probe. Oracle: q104's construction with the union
    // df, restricted to batch docs.
    QuerySpec(
      "q148_span_rewrite_incr",
      (s, d) => {
        val docs = Tables.documents(s, d)
        dedupSpansIncrementalRewrite(docs.filter(col("doc_id") < 250),
            cachedSpanIndex(s, d), n = 6)
          .filter(col("n_removed") > 0)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+5],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-5, 0))) AS u(i)),
        dfs AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(DISTINCT doc_id) >= 2),
        starts AS (SELECT g.doc_id, list(DISTINCT g.pos) AS ss
                   FROM g JOIN dfs USING (gram)
                   WHERE g.doc_id < 250
                   GROUP BY g.doc_id),
        kept AS (
          SELECT toks.doc_id, toks.source,
                 len(toks.t) AS n_tokens,
                 list_filter(range(1, len(toks.t)+1),
                   p -> len(list_filter(COALESCE(starts.ss, []),
                            s -> p >= s AND p <= s + 5)) = 0) AS kp,
                 toks.t AS t
          FROM toks LEFT JOIN starts USING (doc_id)
          WHERE toks.doc_id < 250)
        SELECT doc_id, source,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_tokens - len(kp) AS BIGINT) AS n_removed,
               COALESCE(array_to_string(list_transform(kp, p -> t[p]), ' '), '')
                 AS clean_text
        FROM kept
        WHERE n_tokens - len(kp) > 0
        ORDER BY doc_id""")),

    // Corpus duplication mass (r10): Σ maximal-island coverage / total
    // tokens per source — the Lee et al. headline fraction; islands are
    // disjoint so the sum never overcounts overlapping gram hits.
    QuerySpec(
      "q144_dup_mass",
      (s, d) => dupMassBySource(Tables.documents(s, d), n = 6)
        .orderBy(col("source")),
      Some("""
        WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
                      FROM documents),
        g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+5],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-5, 0))) AS u(i)),
        dfs AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(DISTINCT doc_id) > 1),
        s AS (SELECT g.doc_id, g.pos FROM g JOIN dfs USING (gram)),
        l AS (SELECT doc_id, pos,
                CASE WHEN LAG(pos) OVER w IS NULL
                       OR pos - LAG(pos) OVER w > 6
                     THEN 1 ELSE 0 END AS brk
              FROM s
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        i AS (SELECT doc_id, pos,
                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM l),
        spans AS (SELECT doc_id, MAX(pos) - MIN(pos) + 6 AS span_len
                  FROM i GROUP BY doc_id, island),
        per_doc AS (SELECT doc_id, SUM(span_len) AS dup FROM spans
                    GROUP BY doc_id)
        SELECT t.source,
               CAST(SUM(len(t.t)) AS BIGINT) AS total_tokens,
               CAST(SUM(COALESCE(p.dup, 0)) AS BIGINT) AS dup_tokens,
               ROUND(CAST(SUM(COALESCE(p.dup, 0)) AS DOUBLE)
                     / SUM(len(t.t)), 6) AS dup_frac
        FROM toks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
        GROUP BY t.source
        ORDER BY t.source""")),

    // Maximal duplicated-span extraction (exact-substring-dedup
    // reporting): merge the q104 positioned dup-gram stream into
    // maximal per-doc islands — a shared 40-token block is ONE
    // 40-token span, not 35 six-gram hits. The oracle is classic SQL
    // gaps-and-islands (lag → break flag → running island id); the
    // Spark side does the same merge as a map-side array expression
    // over the sorted start set, no window at all.
    QuerySpec(
      "q138_max_dup_spans",
      (s, d) => maximalDupSpans(Tables.documents(s, d), n = 6)
        .orderBy(col("doc_id"), col("span_start")),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+5],' ') AS gram
              FROM toks, UNNEST(generate_series(1, greatest(len(t)-5, 0))) AS u(i)),
        dfs AS (SELECT gram FROM g GROUP BY gram
                HAVING COUNT(DISTINCT doc_id) > 1),
        s AS (SELECT g.doc_id, g.pos FROM g JOIN dfs USING (gram)),
        l AS (SELECT doc_id, pos,
                CASE WHEN LAG(pos) OVER w IS NULL
                       OR pos - LAG(pos) OVER w > 6
                     THEN 1 ELSE 0 END AS brk
              FROM s
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        i AS (SELECT doc_id, pos,
                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM l)
        SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) - MIN(pos) + 6 AS BIGINT) AS span_len
        FROM i GROUP BY doc_id, island
        ORDER BY doc_id, span_start""")),

    // Corpus-level vocabulary richness per source: distinct token types
    // across ALL of a source's docs vs its total token count. Unlike the
    // per-doc typeTokenRatio (q75's quality component), this is a CROSS-
    // doc audit — templated/synthetic sources show a collapsed type
    // count no per-doc metric can see. Scale: one explode + one
    // (source, tok) pre-aggregation; the distinct count is the
    // already-reduced type list, never the raw token stream.
    QuerySpec(
      "q88_vocab_richness",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("tok"))
        toks.groupBy(col("source"))
          .agg(countDistinct(col("tok")).as("n_types"),
            count(lit(1)).as("n_tokens"),
            round(countDistinct(col("tok")).cast("double") / count(lit(1)), 6)
              .as("ttr"))
          .orderBy(col("source"))
      },
      Some("""
        WITH toks AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents)
        SELECT source, COUNT(DISTINCT tok) AS n_types, COUNT(*) AS n_tokens,
               ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS ttr
        FROM toks GROUP BY source ORDER BY source""")),

    // Corpus shape audit: log2-bucketed document-length histogram — the
    // first plot anyone draws before setting curation length cutoffs.
    // Pure map-side arithmetic + one tiny groupBy; floor(log2(n)) on
    // int-valued doubles is IEEE-exact in both engines.
    QuerySpec(
      "q89_length_histogram",
      (s, d) => Tables.documents(s, d)
        .groupBy(floor(log2(col("n_chars"))).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket")),
      Some("""
        SELECT CAST(FLOOR(LOG2(n_chars)) AS BIGINT) AS bucket,
               COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY bucket ORDER BY bucket"""))
  )
}
