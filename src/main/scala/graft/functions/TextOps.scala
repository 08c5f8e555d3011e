package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * and document fingerprinting.
  *
  * All of it is row-local Catalyst expression work — no shuffle, no UDF:
  * at 100 TB this runs map-only at scan parallelism with column pruning
  * (only `doc_id`/`text` leave the parquet scan).
  */
object TextOps {
  /** Whitespace tokens. The BPE-ish fallback `bpeTokens` splits on
    * word/non-word boundaries like a byte-pair pre-tokenizer's regex. */
  def tokens(c: Column): Column = split(c, " ")
  def bpeTokens(c: Column): Column =
    filter(split(c, """(?=\W)|(?<=\W)"""), t => t =!= "" && t =!= " ")

  private val enStop = Seq("the", "a", "of", "and", "is", "to", "in")
  private def isStop(t: Column): Column =
    enStop.map(w => t === w).reduce(_ || _)

  /** Token count per document (whitespace tokenizer). */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      size(tokens(col("text"))).as("n_tokens"),
      col("n_chars"))

  /** Quality scoring: length stats, vocabulary diversity, stopword
    * ratio. All exact integer ratios so the DuckDB oracle matches
    * bit-for-bit. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      (size(array_distinct(t)) / size(t)).as("distinct_ratio"),
      (size(filter(t, isStop(_))) / size(t)).as("stop_ratio"),
      (col("n_chars") / size(t)).as("chars_per_token"))
  }

  /** Model-based quality scoring [QMODEL] (the fasttext-classifier
    * shape every production pipeline runs: CCNet/RefinedWeb/Gopher all
    * gate on a learned doc score): hash each token into a bucket,
    * look up the bucket's weight, mean-pool over the document,
    * threshold into a keep decision. The weight table here is a
    * deterministic stand-in formula — (bucket·37) mod 97 − 48, a fixed
    * pseudo-random weight per bucket — because no trained model ships
    * with the testdata; a real deployment swaps ONLY the weight
    * lookup (a broadcast float array indexed by the same hash), the
    * plumbing (hash → lookup → pool → gate) is exactly this.
    *
    * Scale: pure map-side expression work over the token array — no
    * shuffle, no UDF; at 100 TB it runs at scan parallelism with
    * doc_id/text column pruning, which is precisely why hashed linear
    * models (not transformer scorers) are the industry default for
    * corpus-wide quality gates. */
  def qualityModel(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    val weight = (x: Column) =>
      ((conv(substring(md5(x), 1, 4), 16, 10).cast("int") % 256) * 37) % 97 - 48
    Tables.documents(s, d).select(
      col("doc_id"),
      size(t).as("n_tokens"),
      aggregate(transform(t, weight), lit(0L), (acc, x) => acc + x)
        .as("score_sum"))
      .withColumn("mean_score", col("score_sum") / col("n_tokens"))
      .withColumn("keep", col("score_sum") / col("n_tokens") > 0)
  }

  /** Language ID by stopword-hit heuristic: fraction of tokens in a
    * small English function-word list; `en` above threshold else `und`.
    * (The corpus is synthetic — the heuristic and its oracle just have
    * to agree exactly.) */
  def langId(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      (size(filter(t, isStop(_))) / size(t)).as("en_score"))
      .withColumn("predicted_lang",
        when(col("en_score") >= 0.05, lit("en")).otherwise(lit("und")))
  }

  /** Corpus bigram model [BIGRAM]: top-k bigrams with conditional
    * probability P(w2|w1) — the order-1 upgrade of [[surprisal]]'s
    * unigram LM and the statistic behind collocation mining and
    * phrase-aware tokenizers. Bigrams form map-side (zip the token
    * array with its own tail — no self-join, no window), then ONE
    * partial-agg'd hash aggregate; the conditional denominator is a
    * second tiny aggregate over the bigram counts themselves (≤ vocab²
    * rows), never a rescan. Exact integer ratios divided once in
    * DOUBLE, so both engines compute identical values. */
  def bigrams(s: SparkSession, d: String, k: Int = 50): DataFrame = {
    val t = tokens(col("text"))
    val pairs = Tables.documents(s, d)
      .select(explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val cnt = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val den = cnt.groupBy(col("w1")).agg(sum(col("n")).as("d"))
    // no broadcast hint: den has one row per distinct first token, and
    // vocabulary is unbounded at web-corpus scale — a forced broadcast
    // could OOM the driver there. AQE sees den's true post-agg size at
    // runtime and still broadcasts it whenever it actually is small.
    cnt.join(den, Seq("w1"))
      .select(col("w1"), col("w2"), col("n"),
        round(col("n") / col("d"), 6).as("p"))
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Gopher-style composite quality filter [GOPHER]: the
    * rule-stack every web-scale corpus passes through before training —
    * token-count bounds, mean-word-length band, and a max-repetition
    * cap (fraction of the doc that is its single most frequent token).
    * Entirely map-side array expressions: no explode, no shuffle — at
    * 100 TB this runs at scan speed and feeds the keep/drop partition
    * columns of the cleaned corpus. Thresholds are calibrated to the
    * synthetic corpus so both keep=true and keep=false occur; the
    * repetition scan is O(distinct × tokens) per doc, bounded by the
    * token-count cap it enforces. */
  def gopherFilter(s: SparkSession, d: String): DataFrame = {
    val t = tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(t).as("n_tokens"),
        (aggregate(transform(t, w => length(w)),
          lit(0L), (acc, x) => acc + x) / size(t)).as("mean_wlen"),
        (array_max(transform(array_distinct(t),
          w => size(filter(t, y => y === w)))) / size(t)).as("top_frac"))
      .withColumn("keep",
        col("n_tokens").between(20, 90) &&
          col("mean_wlen").between(3.8, 5.2) &&
          col("top_frac") <= 0.12)
  }

  /** Corpus term statistics: per-token total occurrences and document
    * frequency, top-k by occurrence. The one genuinely shuffling text
    * op — explode to (doc, token), then a single hash aggregate keyed
    * by token (partial agg combines map-side, so the shuffle carries
    * one row per distinct token per partition, not per occurrence). */
  def termStats(s: SparkSession, d: String, k: Int = 100): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)

  /** TF-IDF keyword extraction [TFIDF]: top-k tokens per document by
    * tf·ln(N/df). Classic two-aggregate shape: term frequency per
    * (doc, token) — one partial-agg'd shuffle on the pair — document
    * frequency folded out of the SAME tf frame (one row per doc-token,
    * so count(*) per token IS df: no second corpus pass), then a
    * per-doc top-k window. Scores round to 6 digits and rank over the
    * ROUNDED value with a token tie-break, so engine and oracle order
    * identically. */
  def tfidf(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    // both join branches read the tf aggregate — persist it, or the
    // corpus explode+aggregate runs once per branch (Catalyst does not
    // share subtrees across joins). Same caller-owned lifetime
    // convention as Dedup.ngramJaccard: clearCache() between queries.
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tf.count() // populate before the join branches race a cold cache
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("token")).crossJoin(nDocs)
      .select(col("doc_id"), col("token"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tfidf"), col("rank"))
  }

  /** Word n-grams of a token array: n consecutive tokens, space-joined
    * (1-based slice; fewer than n tokens means no n-grams). Shared by
    * the repetition signals and benchmark decontamination
    * ([[Decontam]]); the DuckDB mirror is l[i] || ' ' || l[i+1] … over
    * generate_series, so both engines emit identical gram strings. */
  private[functions] def wordNgrams(t: String, n: Int): Column =
    StringExpressions.wordNgrams(col(t), n)

  /** Repetition-based quality signals [REPETITION] (the Gopher-style
    * filters): fraction of the token stream covered by the single most
    * frequent token and by the most frequent word 2-gram — high values
    * flag boilerplate, keyword spam and degenerate generations that
    * length/stopword ratios miss. Explode + two partial-agg'd hash
    * aggregates per unit ((doc, term) then doc), so the shuffle carries
    * one row per distinct term per doc per partition — never the raw
    * token stream. Counts (not argmax terms) are emitted, so ties
    * can't make the output nondeterministic. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    def topOf(unit: Column, name: String): DataFrame =
      docs.select(col("doc_id"), explode(unit).as("t"))
        .groupBy(col("doc_id"), col("t"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(s"n_$name"), max(col("c")).as(s"top_$name"))
    topOf(col("tk"), "tok")
      // single-token docs have no bigrams: left join + zero-coalesce
      .join(topOf(wordNgrams("tk", 2), "bigram"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tok"), col("top_tok"),
        (col("top_tok") / col("n_tok")).as("top_tok_frac"),
        coalesce(col("n_bigram"), lit(0L)).as("n_bigram"),
        coalesce(col("top_bigram"), lit(0L)).as("top_bigram"),
        coalesce(col("top_bigram") / col("n_bigram"), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** PII scrubbing [PII]: redact email addresses and phone numbers
    * from the document stream, emitting the scrubbed text plus
    * per-document detection counts (the audit trail a compliance
    * pipeline keeps). Pure row-local regexp work — map-only at scan
    * parallelism, no shuffle, codegen'd — so at 100 TB it runs at
    * whatever rate the parquet scan delivers.
    *
    * The synthetic corpus carries no natural PII, so the query first
    * plants deterministic contact strings derived from doc_id (an
    * email on ~2/3 of docs, a NNN-NNN-NNNN phone on 1/2, both / one /
    * neither depending on the id) and then scrubs them — the DuckDB
    * oracle rebuilds the identical planted text, so the redaction
    * regexes themselves are what the hash check verifies, including
    * docs where nothing matches. Emails are scrubbed before phones so
    * a digit run inside a redacted email can never double-match. The
    * patterns stay inside the syntax both Java regex and RE2 share
    * (character classes + bounded repeats — no lookarounds). */
  private[functions] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[functions] val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** The scrub pipeline over a raw text column: email-masked
    * intermediate, fully scrubbed text, and the two audit counts
    * (phones counted AFTER email masking — see [[piiScrub]]).
    * Factored out so specs can drive adversarial strings through the
    * exact expressions the table query uses. */
  private[functions] def scrubCols(raw: Column)
      : (Column, Column, Column) = {
    val deEmailed = regexp_replace(raw, EmailRe, "<EMAIL>")
    (regexp_replace(deEmailed, PhoneRe, "<PHONE>"),
      size(regexp_extract_all(raw, lit(EmailRe), lit(0))),
      size(regexp_extract_all(deEmailed, lit(PhoneRe), lit(0))))
  }

  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val email = concat(lit("user"), col("doc_id").cast("string"),
      lit("@example"), (col("doc_id") % 10).cast("string"), lit(".com"))
    val phone = concat(
      lpad((col("doc_id") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") * 13 % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") * 31 % 10000).cast("string"), 4, "0"))
    val raw = concat(col("text"),
      when(col("doc_id") % 3 =!= 0, concat(lit(" contact "), email))
        .otherwise(lit("")),
      when(col("doc_id") % 2 === 0, concat(lit(" tel "), phone))
        .otherwise(lit("")))
    // phones are counted on the email-scrubbed intermediate, not the
    // raw text — a phone-shaped digit run inside an email local part
    // is swallowed by the email mask and must not inflate n_phones
    // (counts == masks is the audit contract the spec pins)
    val (scrub, nEmails, nPhones) = scrubCols(col("raw"))
    Tables.documents(s, d)
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"), scrub.as("scrubbed"),
        nEmails.as("n_emails"), nPhones.as("n_phones"))
  }

  /** Vocabulary induction + OOV rate [VOCAB]: build the tokenizer
    * vocabulary (top-V tokens by corpus frequency, unique-ordered) and
    * score every document's out-of-vocabulary token fraction against
    * it — the coverage metric that drives vocab-size choices and flags
    * domain-mismatched documents before training. Two aggregates over
    * ONE corpus explode: the (doc, token) frequency frame feeds both
    * the global vocab rollup and the per-doc totals, so the token
    * stream is shuffled once (partial-agg'd on the pair key). The tiny
    * vocab (V rows) broadcast-joins back; per-doc OOV is a second
    * partial-agg'd rollup keyed by doc. At 100 TB nothing here holds
    * more than (doc, distinct-token) rows — never the raw stream. */
  def vocabOov(s: SparkSession, d: String, vocabSize: Int = 50): DataFrame = {
    // both the vocab rollup and the per-doc rollup read this — persist,
    // or the corpus explode+aggregate runs twice (same caller-owned
    // clearCache lifetime convention as tfidf)
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"))
    tf.join(broadcast(vocab.withColumn("in_vocab", lit(1))),
        Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(lit(0L)))
          .as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov") / col("n_tokens")).as("oov_rate"))
  }

  /** Document fingerprint: md5 of whitespace-canonicalized text.
    * Deterministic and engine-portable (same md5 in DuckDB), unlike
    * JVM-specific hashes. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))

  /** Unicode normalization [NORMALIZE]: strip accents before
    * dedup/fingerprinting via the native codegen'd
    * [[StringExpressions.Unaccent]] expression — map-only at scan
    * parallelism, ASCII rows cost one integer compare.
    *
    * The synthetic corpus is pure ASCII, so (the PII-scrub pattern)
    * the query first PLANTS accents deterministically — two different
    * Latin accent maps keyed off doc_id, a third of docs left
    * untouched — and then normalizes. The DuckDB oracle rebuilds the
    * identical planted text with translate() and strips with its own
    * strip_accents(), so the hash check verifies the two engines'
    * independent Unicode-normalization paths agree char-for-char,
    * including the untouched-ASCII identity. */
  def normalizeAccents(s: SparkSession, d: String): DataFrame = {
    val planted =
      when(col("doc_id") % 3 === 1, translate(col("text"), "aeiou", "áéîöü"))
        .when(col("doc_id") % 3 === 2, translate(col("text"), "aeinc", "àêíñç"))
        .otherwise(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), planted.as("raw"))
      .select(col("doc_id"),
        StringExpressions.unaccent(col("raw")).as("norm_text"),
        (col("raw") =!= StringExpressions.unaccent(col("raw"))).as("changed"))
  }

  /** URL parsing [URL]: host/path/query extraction — the first step of
    * every web-corpus pipeline (per-domain caps, dedup keys, robots
    * filtering all key on the host). Spark's codegen'd parse_url runs
    * map-only at scan parallelism; the corpus has no URL column, so
    * deterministic URLs are planted from doc_id/lang (the PII-scrub
    * pattern) and the DuckDB oracle re-extracts the parts with plain
    * regexes — two independent URL-parsing implementations must agree
    * on every row. */
  def urlExtract(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("https://h"), (col("doc_id") % 20).cast("string"),
      lit(".example"), (col("doc_id") % 7).cast("string"), lit(".com/p/"),
      (col("doc_id") % 5).cast("string"), lit("?q="), col("lang"))
    Tables.documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("query"))
  }

  /** Unigram surprisal [SURPRISAL]: per-doc average −ln p(token) under
    * the corpus unigram distribution — the cheapest useful
    * language-model quality score (boilerplate and keyword spam score
    * low; rare-token soup scores high). Same one-explode shape as
    * tfidf/vocabOov: the (doc, token) tf frame feeds the global token
    * counts AND the per-doc rollup, so the corpus shuffles once. The
    * per-doc double sum is order-insensitive at far below the 6-digit
    * rounding both engines apply (~1e-13 relative vs 1e-6). */
  def surprisal(s: SparkSession, d: String): DataFrame = {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ct = tf.groupBy(col("token")).agg(sum(col("tf")).as("ct"))
    val tot = tf.agg(sum(col("tf")).as("t_total"))
    tf.join(ct, Seq("token")).crossJoin(tot)
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        round(-(sum(col("tf") *
          log(col("ct").cast("double") / col("t_total"))) / sum(col("tf"))), 6)
          .as("avg_surprisal"))
  }

  /** Inverted index [INVERTED]: per-term document frequency plus a
    * capped posting list (first k doc_ids ascending, comma-joined so
    * the value hashes identically in both engines) — the retrieval
    * structure behind contamination lookups and BM25-ish scoring.
    *
    * Skew is the whole problem at corpus scale: a stopword's posting
    * set is nearly every document, so a single window partitioned by
    * term would sort the whole corpus worth of pairs in ONE task.
    * Two-phase top-k instead: a per-(term, input-partition) window
    * keeps ≤k pairs per term per partition (bounded by partition
    * size), then the global per-term window ranks ≤k·nPartitions
    * survivors — never the raw posting set. Document frequency is
    * exact from a separate partial-agg'd count over the (doc, term)
    * pairs (dedup'd map-side by array_distinct, so the aggregate
    * never sees within-doc repeats). */
  def invertedIndex(s: SparkSession, d: String, k: Int = 8): DataFrame =
    invertedIndexOf(Tables.documents(s, d), k)

  /** Same over any (doc_id, text) frame — specs drive this with
    * hand-built corpora (hot terms, within-doc repeats, cap edges). */
  def invertedIndexOf(docs: DataFrame, k: Int): DataFrame = {
    val termDocs = docs
      .select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"), col("pid")).orderBy(col("doc_id"))
    val global = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val capped = termDocs.withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= k)
      .withColumn("rn", row_number().over(global))
      .filter(col("rn") <= k)
    val dfs = termDocs.groupBy(col("term")).agg(count(lit(1)).as("df"))
    capped.groupBy(col("term"))
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id"))))
        .as("postings"))
      .join(dfs, Seq("term"))
      .select(col("term"), col("df"), col("postings"))
  }

  /** Unigram-distribution shift between two corpus slices [text_jsd]:
    * Jensen–Shannon divergence between the en and fr token
    * distributions — the drift monitor a data pipeline runs between
    * corpus snapshots, source mixes, or train/eval splits (symmetric,
    * bounded by ln 2, defined even where one side's probability is 0).
    * Shape: one token-count aggregate per slice (partial-agg'd — the
    * shuffle carries (lang, token) pairs, never token instances), a
    * FULL OUTER join on the union vocabulary (vocab-sized, not
    * data-sized), slice totals broadcast from a 2-row aggregate, then
    * the Σ p·ln(p/m) terms fold in one final aggregate. Exact integer
    * counts; doubles only in the division/log; 6-decimal round
    * absorbs the unordered-sum ulp drift. */
  def jsDivergence(s: SparkSession, d: String,
      langA: String = "en", langB: String = "fr"): DataFrame = {
    val toks = graft.Tables.documents(s, d)
      .filter(col("lang").isin(langA, langB))
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // two scalar slice totals (bounded collect, the stratum-counts
    // convention); dividing by literals keeps the plan join-free
    val totals = toks.groupBy(col("lang")).agg(sum(col("c")).as("tot"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // an absent/empty slice would otherwise surface as a bare
    // NoSuchElementException from the map (and then a 0-divide in p/q);
    // fail with the actual diagnosis instead — JSD between an empty
    // distribution and anything is undefined, that's data, not a bug
    require(totals.contains(langA) && totals.contains(langB),
      s"jsDivergence: empty token slice for " +
        s"${Seq(langA, langB).filterNot(totals.contains).mkString(",")} — " +
        s"JSD against an empty distribution is undefined")
    def side(l: String, cName: String): DataFrame =
      toks.filter(col("lang") === l).select(col("token"), col("c").as(cName))
    val out = side(langA, "ca")
      .join(side(langB, "cb"), Seq("token"), "full_outer")
      .select(
        (coalesce(col("ca"), lit(0L)) / lit(totals(langA))).as("p"),
        (coalesce(col("cb"), lit(0L)) / lit(totals(langB))).as("q"))
      .withColumn("m", (col("p") + col("q")) / 2)
      .agg(
        sum(when(col("p") > 0, col("p") * log(col("p") / col("m")))).as("kl_a"),
        sum(when(col("q") > 0, col("q") * log(col("q") / col("m")))).as("kl_b"),
        count(lit(1)).as("vocab_union"))
      .select(round((col("kl_a") * 0.5 + col("kl_b") * 0.5), 6).as("jsd"),
        col("vocab_union"))
    Gates.sealGate(s, out, toks)
  }
}
