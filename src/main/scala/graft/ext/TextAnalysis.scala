package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All pure `Column` expressions (no UDFs): language-ID (stopword-hit heuristic),
  * quality scoring (length / punctuation / stopword ratios), token counting
  * (whitespace + a BPE-ish regex), and document fingerprinting (md5 + rolling
  * shingle hash). Expression-only means whole-stage codegen end-to-end and zero
  * shuffles for the per-document stage — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Whitespace tokens of the trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count as BIGINT (matches SQL engines' `len()` type). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Token-distribution drift between two corpora — the "did the new crawl
    * change the data mix" check run before a refreshed corpus feeds training:
    * per token, occurrence counts in A and B plus the INTEGER-scaled
    * proportion difference `|cntA·totB − cntB·totA|` (the cross-multiplied
    * form of `|cntA/totA − cntB/totB|`, kept exact by never dividing; divide
    * by `totA·totB` downstream for the float rate). Top drifted tokens
    * surface what shifted. Output: `(token, cnt_a, cnt_b, drift_scaled)`,
    * top `k` by `(drift_scaled DESC, token ASC)`.
    *
    * Scale: explode + one hash aggregate per corpus side on the token key
    * (map-side combined), a full-outer merge of the two |vocab|-sized count
    * tables, 1-row totals broadcast, and a TakeOrdered top-k — no global
    * sort. Overflow bound: `cnt·tot < 2⁶³` holds through ~3·10⁹ total tokens;
    * past that, pre-quantize proportions to parts-per-billion and difference
    * those instead (same plan, declared precision). */
  def tokenDrift(corpusA: DataFrame, corpusB: DataFrame, textCol: String,
                 k: Int): DataFrame = {
    require(k > 0, "TextAnalysis.tokenDrift: k must be positive")
    def counts(df: DataFrame): DataFrame = df
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    val a = counts(corpusA); val b = counts(corpusB)
    val merged = a.withColumnRenamed("cnt", "cnt_a")
      .join(b.withColumnRenamed("cnt", "cnt_b"), Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = merged.agg(sum(col("cnt_a")).as("__ta"), sum(col("cnt_b")).as("__tb"))
    merged.crossJoin(broadcast(totals))
      .withColumn("drift_scaled",
        abs(col("cnt_a") * col("__tb") - col("cnt_b") * col("__ta")))
      .select(col("token"), col("cnt_a"), col("cnt_b"), col("drift_scaled"))
      .orderBy(col("drift_scaled").desc, col("token"))
      .limit(k)
  }

  /** BPE-ish subword segmentation: count letter runs, digit runs, and individual
    * punctuation marks, the way byte-pair tokenizers pre-tokenize. A proxy for
    * "model token" counts when the real tokenizer can't ship with the engine.
    * (Extraction-count form, not split: lookaround-free regex is portable across
    * regex engines.) */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** Characters count. */
  def charCount(text: Column): Column = length(text).cast("long")

  /** Fraction of characters that are punctuation. Guarded for empty text. */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, lit(0.0))
      .otherwise((len - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") / len)
  }

  /** Fraction of tokens found in `stopwords` — a high ratio signals natural prose,
    * a very low one signals tables/code/noise. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: favors mid-length documents with prose-like
    * stopword density and low punctuation noise (C4/Gopher-style heuristics). */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lengthTerm = least(charCount(text).cast("double") / 500.0, lit(1.0))
    val stopTerm = least(stopwordRatio(text, stopwords) * 4.0, lit(1.0))
    val punctTerm = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    round((lengthTerm + stopTerm + punctTerm) / 3.0, 6)
  }

  /** Per-language marker stopwords for the n-gram/stopword-hit language heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "est", "une"),
    "de" -> Seq("der", "die", "und", "ist", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Count of tokens matching one language's marker list. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers.map(lit): _*))).cast("long")

  /** Heuristic language ID: the language with the most marker-token hits;
    * `und` (undetermined) when nothing matches. Ties break by list order
    * (en first), which keeps the result deterministic. */
  def langId(text: Column): Column = {
    val scored = LangMarkers.map { case (lang, markers) => (lang, markerHits(text, markers)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // fold from the last language up so earlier languages win ties
    scored.reverse.foldLeft(lit("und")) { case (fallback, (lang, hits)) =>
      when(hits === best && best > 0, lit(lang)).otherwise(fallback)
    }
  }

  /** Email pattern for PII scrubbing — no lookaround, no \w/\d shorthand, so
    * it means the same thing in Java regex (Spark) and RE2 (other engines). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** NNN-NNN-NNNN phone pattern, same portability constraints. */
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII scrub: replace every email / phone occurrence with a typed redaction
    * marker. Pure codegen'd regexp_replace chain — runs at scan speed, the
    * standard pre-training scrubbing pass. Patterns are deliberately
    * dialect-portable (see [[EmailRe]]) so the scrub is reproducible outside
    * the engine (and by the correctness oracle). */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]")

  /** Content fingerprint: md5 of normalized text — the exact-dedup key.
    * Value-identical to `md5(lower(trim(text)))` (the shape the oracle runs)
    * via the contention-free [[graft.functions.Md5Hex]]. */
  def fingerprint(text: Column): Column =
    graft.functions.HashFunctions.md5Hex(lower(trim(text)))

  /** Rolling-hash fingerprint: min of 64-bit hashes over `k`-word shingles —
    * stable under small appends/truncations (winnowing-style), unlike md5. */
  def rollingFingerprint(text: Column, k: Int = 3): Column = {
    val sh = Shingles.wordShingles(text, k)
    when(size(sh) > 0, array_min(transform(sh, s => xxhash64(s)))).otherwise(xxhash64(text))
  }

  /** [[rollingFingerprint]] on the portable md5-derived hash ([[PortableHash.hash60]])
    * — same winnowing-style min-shingle-hash, reproducible in the oracle engine. */
  def rollingFingerprintPortable(text: Column, k: Int = 3): Column = {
    val sh = Shingles.wordShingles(text, k)
    when(size(sh) > 0, array_min(transform(sh, s => PortableHash.hash60(s))))
      .otherwise(PortableHash.hash60(text))
  }

  /** TF-IDF top-`k` terms per document over the whole corpus.
    *
    * tf = term count within the document (whitespace tokens, lowercased);
    * idf = ln((N + 1) / (df + 1)); score = round(tf · idf, 6); ties broken by
    * term. Three hash aggregations ((doc, term) counts → per-term df → corpus
    * N as a 1-row broadcast) plus one ranked window — every shuffle is keyed
    * by term or doc, so it scales like any word-count: no stage ever holds
    * more than a (doc, term) group. The 6-dp round keeps scores engine-stable
    * (ln is libm-dependent in the last ulp).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
    val tf = tok.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))))
      .filter(col("rank") <= k)
  }

  /** BM25 relevance of every matching document to a fixed query-term set —
    * the keyword-retrieval standard (quality-scoring seed sets, contamination
    * probes, eval-set mining all rank by it).
    *
    * Per (doc, term): `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))`, k1 = 1.2, b = 0.75. Each
    * term's contribution is rounded to integer MICRO-units before the
    * per-document sum: summing doubles across terms would depend on reduce
    * order (not reproducible on a cluster), while the integer sum is
    * commutative — bit-stable across partitionings and engines, so the
    * oracle replays the exact scores. ln() itself is evaluated once per
    * TERM (corpus-constant), keeping libm last-ulp exposure negligible.
    *
    * Shape: word-count aggregations ((doc,term) tf keyed by doc+term, dl
    * keyed by doc, df keyed by term) + a broadcast of the |terms|-row df
    * table and the 1-row corpus stats — the only shuffles are word-count
    * economics; the final top-k is TakeOrdered (per-partition heaps), no
    * global sort. */
  def bm25TopDocs(docs: DataFrame, queryTerms: Seq[String], k: Int,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopDocs: need at least one query term")
    val tok = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
    val dl = tok.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_tokens"))
    val tf = tok.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // Expression shapes below mirror the oracle SQL token-for-token (same
    // association order), so every FP step is the same IEEE op on both sides.
    val avgdl = col("total_tokens").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val denom = col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl))
    val contrib = round(idf * (col("tf") * lit(2.2)) / denom * lit(1000000.0)).cast("long")
    tf.join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol), contrib.as("c"))
      .groupBy(col(idCol)).agg(sum(col("c")).as("score_micros"))
      .orderBy(col("score_micros").desc, col(idCol))
      .limit(k)
  }

  /** Per-document word-repetition statistics — the Gopher-style repetition
    * signals (duplicate-word mass, single-word dominance) that flag
    * boilerplate, keyword-stuffed, and auto-generated text.
    *
    * Output: (idCol, n_words, n_distinct_words, top_word_count) where
    * `top_word_count` is the frequency of the document's most frequent word.
    * All three are integers so downstream thresholds can be evaluated
    * EXACTLY in integer arithmetic ("duplicate fraction > 1/5" ⟺
    * `(n_words − n_distinct_words) · 5 > n_words`) — no cross-engine float
    * drift in the kept set.
    *
    * Shape: explode → two hash aggregations keyed by (doc, word) then doc —
    * word-count shuffle economics, map-side combinable, no windows. */
  def repetitionStats(docs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max(col("c")).as("top_word_count"))

  /** Per-document n-GRAM repetition statistics — the rest of the
    * Gopher-rule family ([[repetitionStats]] covers words): how much of the
    * document sits inside its most-repeated word n-gram, and how much
    * n-gram mass is duplicated at all. The published curation thresholds
    * ("fraction of words in the top 2-gram > 0.20 → drop") evaluate
    * EXACTLY in integers downstream: `top_count · n · 5 > n_words`.
    *
    * Output: `(idCol, n_ngrams, n_distinct_ngrams, top_ngram_count)`;
    * duplicated n-gram mass = `n_ngrams − n_distinct_ngrams`. Same shape
    * as the word variant: explode → (doc, gram) count → doc aggregate,
    * map-side combinable, no windows. */
  def ngramRepetitionStats(docs: DataFrame, n: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(n >= 2, s"ngramRepetitionStats: n must be >= 2, got $n")
    docs.select(col(idCol), explode(ngrams(lower(col(textCol)), n)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct_ngrams"),
        max(col("c")).as("top_ngram_count"))
  }

  /** Byte-pair-encoding merge learning — the tokenizer-training primitive —
    * run the way a distributed BPE trainer actually runs: NOT over the raw
    * character stream (that explodes 100 TB of text into 100 TB of pairs per
    * round) but over the UNIQUE-WORD FREQUENCY TABLE, which is
    * vocabulary-sized (≪ corpus) and carries each word's count as the pair
    * weight. Each round is then: one explode of adjacent symbol pairs over
    * the vocabulary, one map-side-combined `groupBy(pair).sum(freq)`, one
    * top-1 `TakeOrderedAndProject` (count DESC, then pair lexicographic — a
    * total order, so the learned merge sequence is deterministic), and one
    * narrow literal `replace` applying the merge. Driver state per round is
    * ONE collected row (the winning pair — metadata-sized).
    *
    * Symbol sequences are boundary-delimited strings (`·a·b·c·` for "abc");
    * a merge of (l,r) is the literal replace of `·l·r·` with `·lr·` — one
    * left-to-right non-overlapping pass per round, the semantics BOTH
    * engines' literal `replace` implement identically (a run like `aaa`
    * therefore merges once per round, not cascade-within-round; documented so
    * the oracle — the same chained replaces in DuckDB — agrees exactly).
    * Words are restricted to `^[a-z0-9]+$` after lowercasing so the `(.)`
    * char-split regex and the `·` delimiter behave identically across
    * engines (no multi-code-unit surprises).
    *
    * Returns one row per learned merge: `(round, left_sym, right_sym,
    * pair_cnt)` — EAGER (each round runs one small job; the chained lazy
    * plan over the persisted vocabulary stays `rounds`-bounded). */
  def bpeMerges(docs: DataFrame, textCol: Column, rounds: Int): DataFrame = {
    require(rounds >= 1, s"bpeMerges: rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    import org.apache.spark.storage.StorageLevel
    val words = docs
      .select(explode(tokens(lower(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("seq", concat(regexp_replace(col("w"), "(.)", "·$1"), lit("·")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var cur = words.select(col("freq"), col("seq"))
      val learned = (1 to rounds).map { round =>
        val top = bpePairTop(cur).collect()
        require(top.nonEmpty, s"bpeMerges: no pairs left at round $round")
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        cur = cur.withColumn("seq",
          expr(s"replace(seq, '·${l}·${r}·', '·${l}${r}·')"))
        (round, l, r, cnt)
      }
      spark.createDataFrame(learned.toList)
        .toDF("round", "left_sym", "right_sym", "pair_cnt")
    } finally words.unpersist(blocking = false)
  }

  /** ENCODE with the learned merges — the apply half of the tokenizer story
    * ([[bpeMerges]] is the train half): per document, lower/whitespace-split
    * exactly as the trainer did, keep the trainer's `[a-z0-9]+` words,
    * boundary-encode each word, apply the `rounds` learned merges in learning
    * order, and count the resulting symbols. Output per doc:
    * `(idCol, n_tokens, n_words, n_chars)` — n_chars/n_tokens is the
    * compression the vocabulary bought.
    *
    * The merge table is collected to the driver (R rows — tokenizer
    * vocabularies are metadata, the same license as IVF centroids) and
    * unrolled into R chained `replace` expressions, so encoding is a single
    * codegen'd projection pass over the corpus: no join, no per-row loop.
    * One scan learns (bounded by [[bpeMerges]]'s own passes), one scan
    * encodes.
    *
    * CONTRACT — non-overlapping replace: each merge is applied as ONE
    * left-to-right `replace` pass whose match consumes the shared boundary
    * marker, so a repeated-pair run collapses alternately: `abab` under a
    * single (a,b) merge encodes as `[ab, a, b]`, where a canonical BPE
    * tokenizer (which rescans after every substitution) would produce
    * `[ab, ab]`. Trainer ([[bpeMerges]]), encoder, and the DuckDB oracle all
    * share this rule (Round9cSpec pins it), so counts are self-consistent
    * within the engine but can diverge from external tokenizers on inputs
    * with immediately repeated merge pairs. */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: Column,
                rounds: Int): DataFrame =
    bpeEncodedWords(docs, idCol, textCol, rounds)
      // "·a·b·" splits to ["", "a", "b", ""] — symbol count = size − 2
      .withColumn("__n_sym", (size(split(col("seq"), "·")) - 2).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("__n_sym")).as("n_tokens"),
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"))

  /** WORD-level encoder under [[bpeEncode]]: one row per kept word with its
    * boundary-delimited token sequence `(idCol, w, seq)` — the frame the
    * round-trip certificate (q334) and any token-level consumer need. Same
    * train-once / unrolled-replace projection as bpeEncode. */
  def bpeEncodedWords(docs: DataFrame, idCol: String, textCol: Column,
                      rounds: Int): DataFrame = {
    val merges = bpeMerges(docs, textCol, rounds).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    val words = docs
      .select(col(idCol), explode(tokens(lower(textCol))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .withColumn("seq", concat(regexp_replace(col("w"), "(.)", "·$1"), lit("·")))
    merges.foldLeft(words) { case (df, (l, r)) =>
      df.withColumn("seq", expr(s"replace(seq, '·${l}·${r}·', '·${l}${r}·')"))
    }
  }

  /** DECODE half of the tokenizer: token list → text, by concatenating the
    * symbols of a boundary-delimited sequence (`·ab·c·` → `abc`). Built on
    * the TOKEN LIST (split → drop boundary empties → join), not a blind
    * delimiter strip, so `decode(encode(w)) = w` certifies the whole
    * representation — a merge that corrupted a symbol or ate a boundary
    * would surface as a round-trip violation (q334 pins the count at 0). */
  def bpeDecode(seq: Column): Column =
    array_join(filter(split(seq, "·"), x => x =!= ""), "")

  /** Token co-occurrence with lift — the association-mining question "which
    * token pairs appear together more than their solo frequencies predict"
    * (query-expansion, collocation discovery, template detection in a crawl).
    *
    * Shape: per-document DISTINCT token sets (array_distinct before any
    * explode), pairs generated per document from the sorted set — the
    * per-document explode is bounded by the document's VOCABULARY squared,
    * not its length, and there is no token×token self-join shuffle; pair
    * counts and solo counts are both map-side-combined aggregates. Lift is
    * emitted exactly as integer ingredients: `lift_num = n_ab·n_docs`,
    * `lift_den = n_a·n_b` (lift = num/den — never divided, so ranking and
    * hashing stay exact). Top `k` pairs by support `(n_ab DESC, pair asc)` —
    * a TakeOrdered, never a global sort. */
  def cooccurrenceLift(docs: DataFrame, idCol: String, textCol: Column,
                       k: Int): DataFrame = {
    val toksOf = array_sort(array_distinct(
      filter(tokens(lower(textCol)), x => x =!= "")))
    val dt = docs.select(col(idCol).as("__doc"), explode(toksOf).as("tok"))
    val nDocs = dt.select(col("__doc")).distinct().agg(count(lit(1)).as("__nd"))
    val totals = dt.groupBy(col("tok")).agg(count(lit(1)).as("__na"))
    docs.select(col(idCol).as("__doc"), toksOf.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "flatten(transform(sequence(1, size(__t) - 1), " +
          "i -> transform(slice(__t, i + 1, size(__t) - i), " +
          "y -> struct(element_at(__t, i) AS a, y AS b))))")).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(totals.select(col("tok").as("tok_a"), col("__na").as("n_a")), Seq("tok_a"))
      .join(totals.select(col("tok").as("tok_b"), col("__na").as("n_b")), Seq("tok_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("__nd").as("n_docs"),
        (col("n_ab") * col("__nd")).as("lift_num"),
        (col("n_a") * col("n_b")).as("lift_den"))
      .orderBy(desc("n_ab"), asc("tok_a"), asc("tok_b"))
      .limit(k)
  }

  /** Reciprocal-rank fusion of two ranked retrieval lists — the standard
    * hybrid-search combiner (lexical BM25 + semantic cosine): each list
    * contributes `scale DIV (c + rank)` to a document's fused score, summed.
    * Integer throughout (`scale` = 10⁶ micros), so fusion is exact and
    * engine-portable; a document present in only one list simply gets no
    * contribution from the other (the standard RRF convention).
    *
    * Inputs are top-k lists — already bounded — so the full-outer merge and
    * final TakeOrdered run on ≤ |A|+|B| rows (metadata-sized); the heavy
    * lifting happened in the upstream retrieval queries. Output:
    * `(id, rank_lex, rank_sem, rrf_micros)` top `k` by
    * `(rrf_micros DESC, id)`. */
  def rrfFuse(rankedLex: DataFrame, rankedSem: DataFrame, idCol: String,
              k: Int, c: Long = 60L, scale: Long = 1000000L): DataFrame = {
    val a = rankedLex.select(col(idCol), col("rank").as("rank_lex"))
    val b = rankedSem.select(col(idCol), col("rank").as("rank_sem"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol), col("rank_lex"), col("rank_sem"),
        (coalesce(expr(s"$scale DIV ($c + rank_lex)"), lit(0L))
          + coalesce(expr(s"$scale DIV ($c + rank_sem)"), lit(0L)))
          .as("rrf_micros"))
      .orderBy(desc("rrf_micros"), asc(idCol))
      .limit(k)
  }

  /** One BPE round's winning pair as a lazy plan — package-private so
    * PlanSpec can assert the top-1 compiles to `TakeOrderedAndProject`
    * (never a global sort) and the pair count aggregates map-side.
    * `cur` carries (freq, seq); one row out: (l, r, cnt). */
  private[graft] def bpePairTop(cur: DataFrame): DataFrame = cur
    .select(col("freq"),
      expr("filter(split(seq, '·'), x -> x != '')").as("syms"))
    .filter(size(col("syms")) >= 2)
    .select(col("freq"), explode(expr(
      "transform(sequence(1, size(syms) - 1), " +
        "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"))
      .as("p"))
    .groupBy(col("p.l").as("l"), col("p.r").as("r"))
    .agg(sum(col("freq")).as("cnt"))
    .orderBy(desc("cnt"), asc("l"), asc("r"))
    .limit(1)

  /** Ordered word n-grams of `text`; a document shorter than `n` words
    * yields no n-grams. Generalizes [[bigrams]]. */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, "ngrams: n must be positive")
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Corpus n-gram vocabulary: the `k` most frequent word n-grams with a full
    * deterministic tie-break (count DESC, then n-gram ASC) — the counting
    * pass behind vocabulary induction, stopword mining, and boilerplate
    * discovery.
    *
    * Scale: explode + hash-aggregate is map-side partial-agg'd (the shuffle
    * carries one row per DISTINCT n-gram per partition, zipf-truncated, not
    * one per occurrence), and the `orderBy(...).limit(k)` pair compiles to
    * `TakeOrderedAndProject` — each partition keeps only its local top-k and
    * the driver merges P·k rows, so NO global sort materializes. The plan
    * survives a 100 TB corpus with driver memory ∝ k. */
  def topNgrams(docs: DataFrame, textCol: Column, n: Int, k: Int): DataFrame = {
    require(k >= 1, "topNgrams: k must be positive")
    docs
      .select(explode(ngrams(lower(textCol), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(k)
  }

  /** Ordered word bigrams of `text` ("w1 w2", "w2 w3", …); a one-word
    * document yields no bigrams. */
  def bigrams(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** N-gram language-model scoring of `target` documents against a bigram
    * table built from a `reference` corpus — the cheap, distributed stand-in
    * for KenLM-style perplexity filtering in training-data pipelines (docs
    * whose n-grams the reference model has never seen are likely noise).
    *
    * All outputs are INTEGERS so the kept set is cross-engine exact:
    * `n_bigrams` (total, with multiplicity), `n_known` (bigrams present in
    * the reference table), and `known_freq_sum` (Σ reference-frequency of
    * each target bigram occurrence — the integer analogue of a corpus
    * log-likelihood; rank by `known_freq_sum / n_bigrams` downstream).
    *
    * Scale: build = explode + one hash count keyed by bigram (map-side
    * combinable); score = explode + equi-join on the bigram string + one
    * doc-keyed re-aggregation. The model table is ∝ distinct bigrams (zipf:
    * far smaller than the corpus) and broadcastable when it fits; otherwise
    * the join shuffles both sides by bigram — either way no windows, no
    * driver state, the same economics as word count.
    */
  def bigramModelScore(reference: DataFrame, target: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val model = reference
      .select(explode(bigrams(lower(col(textCol)))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("ref_freq"))
    target
      .select(col(idCol), explode(bigrams(lower(col(textCol)))).as("bg"))
      .join(model, Seq("bg"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("ref_freq").isNotNull, 1L).otherwise(0L)).as("n_known"),
        sum(coalesce(col("ref_freq"), lit(0L))).as("known_freq_sum"))
  }

  /** Boilerplate detection by within-source shingle document-frequency —
    * the crawl-curation step that strips navigation chrome / legal footers
    * before dedup or training: a k-shingle that appears in more than
    * `dfNum/dfDen` of a source's documents is template text, not content
    * (frequency-based boilerplate removal à la CommonCrawl pipelines).
    *
    * Shape: one explode of per-document DISTINCT shingles
    * ([[Shingles.wordShingles]] — codegen'd), a (source, shingle)
    * document-frequency aggregate, the integer cross-multiplied flag
    * `df·dfDen > n_docs·dfNum` (never divides), and one left join back to
    * re-aggregate per document then per source. Shuffle ∝ corpus shingles —
    * word-count economics, no windows, no driver state; the df table is
    * source-local so a skewed source salts like any hot aggregate key.
    *
    * Output per source: `(source, n_docs, n_shingles, n_boiler,
    * boiler_permille)` — all integers; `boiler_permille` = share of shingle
    * OCCURRENCES (per-doc distinct) that are template text. */
  def boilerplateBySource(docs: DataFrame, k: Int = 3,
                          dfNum: Int = 1, dfDen: Int = 5,
                          idCol: String = "doc_id", sourceCol: String = "source",
                          textCol: String = "text"): DataFrame = {
    require(dfNum > 0 && dfDen > 0 && dfNum < dfDen,
      s"boilerplateBySource: need 0 < dfNum/dfDen < 1, got $dfNum/$dfDen")
    val sh = docs.select(col(idCol), col(sourceCol).as("source"),
      explode(Shingles.wordShingles(col(textCol), k)).as("g"))
    val nDocs = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val boiler = sh.groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("df"))
      .join(nDocs, Seq("source"))
      .filter(col("df") * dfDen > col("n_docs") * dfNum)
      .select(col("source"), col("g"), lit(1L).as("__b"))
    sh.join(boiler, Seq("source", "g"), "left")
      .groupBy(col(idCol), col("source"))
      .agg(count(lit(1)).as("__n_sh"), sum(coalesce(col("__b"), lit(0L))).as("__n_b"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__n_sh")).as("n_shingles"),
        sum(col("__n_b")).as("n_boiler"))
      .withColumn("boiler_permille", expr("n_boiler * 1000 DIV n_shingles"))
  }

  /** ALL word k-grams of `text` in order, duplicates kept (unlike
    * [[Shingles.wordShingles]], which is the distinct SET for MinHash) —
    * the diversity metrics (distinct-n, type-token ratio) need the
    * multiset. Docs shorter than k words contribute an empty array. Pure
    * HOF projection — no explode until the caller chooses to. */
  def allGrams(text: Column, k: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + lit(1), lit(k)), " ")))
      .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
  }

  // -------------------------------------------------------------------------
  // Letter-distribution entropy — generated SQL fragments valid in BOTH Spark
  // SQL and DuckDB (length/replace/ln/round/CASE are common dialect), so the
  // Spark plan and the oracle are the SAME strings and cannot drift. Only the
  // integer-division token differs (Spark `DIV`, DuckDB `//`).
  // -------------------------------------------------------------------------

  /** 26 per-letter count projections `length(t) − length(replace(t,'c',''))
    * AS c_<letter>` — counting via replace keeps the whole thing one
    * codegen'd projection: no per-character explode, no shuffle, linear in
    * bytes scanned (the 100 TB shape; an explode would multiply the row
    * count by the text length). */
  def letterCountCols(textExpr: String): Seq[String] =
    ('a' to 'z').map(c =>
      s"(length($textExpr) - length(replace($textExpr, '$c', ''))) AS c_$c")

  /** Shannon entropy of the letter distribution in integer MICRO-NATS over
    * the `c_a..c_z` columns of [[letterCountCols]]:
    * `H = ln L − (Σ c·ln c)/L` with every `ln` rounded to exact integer
    * micros FIRST, so the sums are order-independent integers and the two
    * engines agree bit-for-bit (the ROUND(ln·1e6) contract). `div` is the
    * dialect's integer-division token. Caller must guard L > 0. */
  def letterEntropyMicrosExpr(div: String): String = {
    val cs = ('a' to 'z').map(c => s"c_$c")
    val l = cs.mkString("(", " + ", ")")
    val b = cs.map(c =>
      s"(CASE WHEN $c > 0 THEN $c * CAST(ROUND(1e6 * ln($c)) AS BIGINT) ELSE 0 END)")
      .mkString("(", " + ", ")")
    s"(CAST(ROUND(1e6 * ln($l)) AS BIGINT) - ($b $div $l))"
  }

  /** Guard fragment for [[letterEntropyMicrosExpr]]: at least one a–z letter. */
  def letterTotalExpr: String =
    ('a' to 'z').map(c => s"c_$c").mkString("(", " + ", ")")

  /** Unigram language-model token costs — the CCNet-style perplexity-proxy
    * quality filter (Wenzek et al. 2020, public literature): a reference LM
    * is trained on the trusted slice (`isRef` rows), and every token w costs
    * `−ln p(w) = ln((T_ref + V)/(c_ref(w) + 1))` (add-one smoothing over the
    * CORPUS vocabulary, so tokens unseen in the reference get the max cost).
    * Costs are exact integer micros (ROUND(ln·1e6) contract), so per-doc
    * sums are order-independent.
    *
    * Output: `(w, c_ref, cost_micros)` — one row per vocabulary entry.
    *
    * Scale: one groupBy to the vocabulary, one broadcast one-row total. The
    * cost table itself is vocabulary-sized; score with a broadcast of the
    * top-V head plus a default tail cost when V outgrows the broadcast
    * budget (here it joins directly). */
  def unigramLmCosts(tokens: DataFrame, tokenCol: String, isRef: Column): DataFrame = {
    val vocab = tokens
      .select(col(tokenCol).as("w"), isRef.cast("long").as("__r"))
      .groupBy(col("w")).agg(sum(col("__r")).as("c_ref"))
    val tot = vocab.agg(sum(col("c_ref")).as("t_ref"), count(lit(1)).as("v"))
    vocab.crossJoin(broadcast(tot))
      .select(col("w"), col("c_ref"),
        expr("CAST(ROUND(1e6 * ln((t_ref + v * 1e0) / (c_ref + 1))) AS BIGINT)")
          .as("cost_micros"))
  }

  /** Mean per-token LM cost per document (integer DIV) over a
    * [[unigramLmCosts]] table — high cost = far from the reference
    * distribution = the filter's "low quality / wrong register" signal.
    * Output: `(docIdCol, n_tokens, cost_micros)`. */
  def docLmCosts(tokens: DataFrame, docIdCol: String, tokenCol: String,
                 costs: DataFrame): DataFrame =
    tokens.select(col(docIdCol), col(tokenCol).as("w"))
      .join(costs.select(col("w"), col("cost_micros")), Seq("w"))
      .groupBy(col(docIdCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cost_micros")).as("__sum"))
      .select(col(docIdCol), col("n_tokens"),
        expr("__sum DIV n_tokens").as("cost_micros"))
  /** Tracking query parameters dropped by [[canonicalUrl]] — the standard
    * click-attribution noise (UTM family, Facebook/Google click ids, bare
    * `ref`) that makes one page surface as thousands of distinct URLs in a
    * crawl. Matched against the full `key=value` pair. */
  val trackingParamPattern = "^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="

  /** URL canonicalization for crawl dedup — the FIRST dedup pass of every
    * web-corpus pipeline (cheaper than any content hash: one page fetched
    * under `?utm_source=x&b=2#frag` and `?b=2` is the same page, and the
    * crawl frontier should learn that before fetching, not after). Rules,
    * all standard: scheme and host lowercase; default port stripped (`:80`
    * for http, `:443` for https); empty path → `/` and a trailing `/`
    * trimmed from non-root paths; the fragment dropped (never sent to the
    * server); query parameters with tracking keys
    * ([[trackingParamPattern]]) dropped, the survivors SORTED (parameter
    * order is almost never semantic) and re-joined; an emptied query loses
    * its `?`.
    *
    * Pure `Column` composition — regexp extracts plus the `filter` /
    * `array_sort` / `array_join` higher-order functions, all inside
    * whole-stage codegen, zero UDFs — so at 100 TB this is a map-only pass
    * with no exchange at all; the dedup that FOLLOWS it groups on an
    * ASCII-bounded canonical string instead of the raw URL, and every rule
    * is replayable in ANSI SQL (the oracle mirrors each step with the same
    * regexes). Assumes an absolute `scheme://host…` URL (a crawl frontier's
    * resolved form); anything WITHOUT a `scheme://` prefix (a relative URL,
    * a bare path) is returned UNCHANGED — without that guard every
    * scheme-less input would extract empty scheme/host and collapse to
    * `:///…`, silently merging distinct relative URLs under one dedup key.
    * Relative URLs must be resolved against their base before this pass. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val rawPath =
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val trimmedPath = regexp_replace(rawPath, "/$", "")
    val path = when(trimmedPath === "", lit("/")).otherwise(trimmedPath)
    val rawQuery = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = array_sort(filter(split(rawQuery, "&"),
      p => p =!= "" && !p.rlike(trackingParamPattern)))
    val qs = array_join(kept, "&")
    val canonical = concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
    when(scheme === "", url).otherwise(canonical)
  }

  /** HTML → text extraction, the web-corpus ingestion step between the raw
    * crawl and every text-quality operator above: drop `<script>` /
    * `<style>` blocks WITH their contents (code and CSS are not prose — and
    * script bodies legitimately contain `"<p>"` string literals, which is
    * why the block must go before the generic tag strip), replace remaining
    * tags with a space (a space, not nothing: `a</p><p>b` must not fuse
    * into `ab`), decode the five core entities (`&lt; &gt; &quot; &#39;`
    * first, `&amp;` LAST so `&amp;lt;` correctly yields the literal
    * `&lt;`), and collapse all whitespace runs to single spaces.
    *
    * Pure `Column` regexp chain (non-greedy block patterns under `(?s)`,
    * no backreferences or lookaround, so the same patterns run identically
    * on RE2-class engines — the oracle replays them verbatim): map-only,
    * codegen'd, zero exchanges at any scale; downstream quality filters see
    * prose whose length ratio vs the raw HTML (`text density`) is itself
    * the classic boilerplate-page signal. */
  def htmlToText(html: Column): Column = {
    val noScript =
      regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val ent = functions_replace(
      functions_replace(
        functions_replace(
          functions_replace(
            functions_replace(noTags, "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&#39;", "'"),
      "&amp;", "&")
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Sentence segmentation — the boundary every RAG / context-window
    * chunker cuts on: split on terminal-punctuation runs followed by
    * whitespace (`[.!?]+\\s+`), strip a trailing punctuation run from the
    * final fragment, drop empties. Lookaround-free pattern, so Java regex
    * and RE2 agree; pure HOF Column (map-only, codegen'd). Abbreviation
    * handling is deliberately out of scope — the pattern is the portable,
    * oracle-replayable contract, and a smarter splitter slots in behind
    * the same Column signature. */
  def sentences(text: Column): Column =
    filter(
      transform(split(trim(text), "[.!?]+\\s+"),
        x => regexp_replace(x, "[.!?]+$", "")),
      x => x =!= "")

  private def functions_replace(c: Column, find: String, repl: String): Column =
    org.apache.spark.sql.functions.replace(c, lit(find), lit(repl))
}

/** Word k-gram shingling shared by fingerprinting and MinHash dedup. */
object Shingles {
  /** Distinct k-word shingles; documents shorter than k words shingle to the whole
    * trimmed text so nothing hashes to an empty set. Computed by the codegen'd
    * [[graft.functions.WordShingleSet]] — semantics identical to [[wordShinglesSql]]
    * (asserted in ExtSpec), ~6–36s/pass faster on the near-dedup corpus. */
  def wordShingles(text: Column, k: Int): Column =
    graft.functions.WordShingleSet(text, k)

  /** The pure-Column (HOF) formulation — the reference point for the
    * equivalence spec, and the shape the DuckDB oracle replays. */
  def wordShinglesSql(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) >= k,
      array_distinct(transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + lit(1), lit(k)), " "))))
      .otherwise(array(trim(text)))
  }

}
