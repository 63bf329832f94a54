package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Catalog._

/** Text-analysis pipeline operators for training-data curation at scale:
  * token counting, quality scoring, n-gram language-ID heuristic, document
  * fingerprinting, TF-IDF keyword extraction, repetition scoring, BPE
  * merge statistics, PII redaction, deterministic sampling/mixing, and the
  * composed curation pipelines (p01/p02). The per-document signals are
  * codegen'd column expressions (no UDFs): on a 1000-executor cluster each
  * is an embarrassingly-parallel map with full column pruning (only `text`
  * is read from parquet); the corpus-level statistics are two-level
  * aggregates with map-side combine.
  */
object TextOps {

  /** Whitespace tokens of the `text` column. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** The catalog's fixed lexical query (t22 search, sim34 hybrid fusion). */
  val KeywordTerms = Seq("spark", "join", "stream")

  /** (doc_id, tok, tf, weight) for a fixed query-term set — the integer-idf
    * posting-list base SHARED by t22 (lexical search) and sim34 (hybrid
    * fusion), so the two rankings cannot drift apart. The token scan
    * filters to the query terms first (the posting-list read); the weight
    * table is |terms| rows and broadcasts; the 1-row corpus-count
    * normalizer is the allowlisted c16 crossJoin pattern. The term filter
    * already excludes the empty token, so the scan skips [[tokenRows]]'
    * empty-token predicate.
    */
  def keywordTfWeights(s: SparkSession, d: String, qTerms: Seq[String]): DataFrame = {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .where(col("tok").isin(qTerms: _*))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val nDocs = t(s, d, "documents").agg(count(lit(1)).as("__n"))
    val weights = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("weight", expr("(__n * 1000000) div df"))
      .select("tok", "weight")
    tf.join(broadcast(weights), "tok")
  }

  private[operators] val stopwords = Seq("the", "and", "of", "to", "a", "in", "is", "it")

  // lang → signature-word set for the n-gram/stopword language-ID heuristic.
  val langSignatures: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "les"))

  /** Token membership count via the codegen'd `word_set_counts` kernel —
    * one tokenization pass, no interpreted lambda. Bit-identical to
    * `size(filter(toks, w => array_contains(lit(words), w)))` (pinned in
    * TextKernelSpec).
    */
  private[operators] def countIn(text: Column, words: Seq[String]): Column =
    graft.functions.GraftFunctions.word_set_counts(text, Seq(words)).getItem(0)

  private[operators] def sqlCountIn(words: Seq[String]): String =
    s"CAST(len(list_filter(toks, w -> list_contains([${words.map(w => s"'$w'").mkString(",")}], w))) AS INT)"

  // ——— the curation kit: tokenize, score and dedup, once per engine ———
  // Every curation query and oracle goes through these. The engine side
  // (Spark columns and frames) and the oracle side (DuckDB strings) share
  // no code, so the oracle stays an independent check.

  /** t06's per-document quality signals over `text`: `n_tokens` (INT),
    * `n_stop`, `avg_token_len` (non-whitespace chars per token) and
    * `stop_ratio`. t02 reports them; the quality filters keep the rows
    * where [[qualityOk]] holds.
    */
  def qualitySignals(docs: DataFrame): DataFrame = docs
    .withColumn("n_tokens", size(tokens(col("text"))))
    .withColumn("n_stop", countIn(col("text"), stopwords))
    .withColumn("avg_token_len",
      length(regexp_replace(col("text"), "\\s+", "")).cast(DoubleType) / col("n_tokens"))
    .withColumn("stop_ratio", col("n_stop").cast(DoubleType) / col("n_tokens"))

  /** The quality envelope over [[qualitySignals]]: 10 to 500 tokens, a
    * mean token length of 2 to 12 chars and at most 60% stopwords.
    */
  val qualityOk: Column = col("n_tokens").between(10, 500) &&
    col("avg_token_len").between(2.0, 12.0) && col("stop_ratio") <= 0.6

  /** One row per non-empty whitespace token of `text` (`tok`) beside the
    * `keep` columns. A whitespace-only text splits to one empty token,
    * which is dropped.
    */
  def tokenRows(docs: DataFrame, keep: String*): DataFrame =
    docs.select(keep.map(col) :+ explode(tokens(col("text"))).as("tok"): _*)
      .where(length(col("tok")) > 0)

  /** The exact-dedup keep-list: the lowest `doc_id` of each distinct text. */
  def dedupKeep(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast(BinaryType)).as("dg"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")

  /** The first 60 bits of `c`'s md5 as a decimal string: the per-row term
    * of the order-free content checksums (p07, p10, p12).
    */
  private def md5Sig60(c: Column): Column = conv(substring(md5(c.cast(BinaryType)), 1, 15), 16, 10)

  /** `toks` and `lines`, the 10-token lines of the pages t24 and t27
    * synthesize from each document.
    */
  private def pageLines(docs: DataFrame): DataFrame = docs
    .withColumn("toks", tokens(col("text")))
    .withColumn("lines", expr(
      "transform(sequence(0, (size(toks)+9) div 10 - 1), i -> array_join(slice(toks, i*10+1, 10), ' '))"))

  /** The RAG chunk windows (t35, p12) of an `n`-token document: window
    * `chunk_id` holds the 64 tokens from token `ChunkStride`·`chunk_id`.
    */
  private val ChunkStride = 48
  private val chunkIds: Column = explode(expr(s"sequence(0, (n - 1) div $ChunkStride)")).as("chunk_id")

  /** Oracle: the documents with their whitespace tokens as `toks` (a
    * constant, so DedupOps' CTE vals can use it without initializing
    * TextOps).
    */
  final val sqlDocToks = "(SELECT *, string_split_regex(trim(text), '\\s+') AS toks FROM documents)"

  /** Oracle: t02's mean token length and stopword ratio over `toks`. */
  private val sqlAvgTokenLen = "CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(toks)"
  private val sqlStopRatio = s"CAST(${sqlCountIn(stopwords)} AS DOUBLE) / len(toks)"

  /** Oracle: t06's quality envelope over `toks` and `text`. */
  val sqlQualityOk =
    s"len(toks) BETWEEN 10 AND 500 AND $sqlAvgTokenLen BETWEEN 2.0 AND 12.0 AND $sqlStopRatio <= 0.6"

  /** Oracle: one `tok` row per non-empty whitespace token, beside `cols`. */
  private def sqlTokenRows(cols: String*): String = {
    val tok = "UNNEST(list_filter(string_split_regex(trim(text), '\\s+'), t -> length(t) > 0)) AS tok"
    s"(SELECT ${(cols :+ tok).mkString(", ")} FROM documents)"
  }

  /** Oracle: the exact-dedup keep-list of `from`. */
  private def sqlDedupKeep(from: String): String =
    s"(SELECT MIN(doc_id) AS doc_id FROM $from GROUP BY md5(text))"

  /** Oracle: the 60-bit md5 prefix of the string `x` as a BIGINT. */
  private def sqlMd5Sig60(x: String): String = s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** Oracle: the `dt(doc_id, toks)` and `ln(doc_id, lines)` CTEs of the
    * synthesized pages' 10-token lines.
    */
  private val sqlPageLineCtes =
    s"""dt AS $sqlDocToks,
        ln AS (SELECT doc_id, list_transform(range(0, (len(toks)+9)//10), i ->
                 array_to_string(toks[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' ')) AS lines
               FROM dt)"""

  /** Oracle: the chunk window ids `w.i` of an `n`-token document, to
    * join laterally.
    */
  private def sqlChunkIds(n: String): String = s"LATERAL (SELECT UNNEST(range(0, ($n - 1) // 48 + 1)) AS i) w"

  // ——— BPE vocabulary training (t25) ———

  /** Marker char (U+0001) bracketing each BPE symbol in the working
    * representation: symbols [ab, c] are held as M+"ab"+M+M+"c"+M. With
    * every symbol boundary carrying the marker, a plain
    * leftmost-non-overlapping `replace` of M+"a"+M+M+"b"+M by M+"ab"+M
    * merges exactly the full-symbol pair occurrences (a substring of a
    * LONGER symbol like "xa" can never match: its bracket is missing),
    * and both engines' `replace` scan left-to-right non-overlapping,
    * which IS the BPE merge rule. Tokens are non-whitespace so a
    * space-joined view of the symbols (for pair counting via the
    * positional `word_ngrams` kernel) is unambiguous.
    */
  private val BM = "\u0001"
  val BpeIters = 6

  /** The tokens BPE trains on (t25) and applies to (t26): [[tokenRows]]
    * without a marker-bearing token. The guard is defensive (such a token
    * would corrupt the representation) and a no-op on the ASCII fixture;
    * mirrored in the oracle.
    */
  private def bpeTokens(docs: DataFrame, keep: String*): DataFrame =
    tokenRows(docs, keep: _*).where(!col("tok").contains(BM))

  /** The (count, bracketed-symbol-string) vocabulary BPE trains on: ONE
    * corpus scan → distinct whitespace tokens with frequencies, each
    * seeded as its character symbols.
    */
  def bpeWords(s: SparkSession, d: String): DataFrame =
    bpeTokens(t(s, d, "documents"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("sym", regexp_replace(col("tok"), "(.)", s"$BM$$1$BM"))
      .select("cnt", "sym")

  /** `iters` BPE merge rounds over the vocabulary. Per round: a
    * distributed frequency-weighted count of adjacent symbol pairs
    * (map-side combined, O(vocab) not O(corpus)), a ONE-row argmax collect
    * (count desc, pair asc — deterministic), and a map-only symbol-string
    * rewrite. Returns the learned merge table — the trained artifact,
    * driver-sized by construction like [[SimilarityOps.trainedCentroids]],
    * and trained once per (sfDir, iters) the same way (t25 trains it, t26
    * applies it).
    */
  def bpeTrainedMerges(s: SparkSession, d: String,
      iters: Int): Seq[(Int, String, String, String, Long)] =
    Artifacts.memo("graft_bpe", (d, iters)) {
      var words = bpeWords(s, d).localCheckpoint()
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
      for (i <- 1 to iters) {
        val spaceForm = trim(replace(col("sym"), lit(BM + BM), lit(" ")), BM)
        val best = words
          .select(col("cnt"),
            explode(graft.functions.GraftFunctions.word_ngrams(spaceForm, 2)).as("pair"))
          .groupBy("pair").agg(sum(col("cnt")).as("n"))
          .orderBy(desc("n"), col("pair")).limit(1).collect()
        require(best.nonEmpty, s"BPE round $i found no adjacent pair — degenerate vocabulary")
        val pair = best(0).getString(0)
        val Array(l, r) = pair.split(" ", 2)
        merges += ((i, l, r, l + r, best(0).getLong(1)))
        words = words.withColumn("sym",
          replace(col("sym"), lit(BM + l + BM + BM + r + BM), lit(BM + l + r + BM)))
      }
      merges.toSeq
    }

  def bpeMerges(s: SparkSession, d: String, iters: Int): DataFrame = {
    import s.implicits._
    bpeTrainedMerges(s, d, iters).toDF("iter", "lhs", "rhs", "merged", "n").orderBy("iter")
  }

  /** One oracle-side BPE round: weighted pair counts over the previous
    * vocabulary, the argmax pair, and the merged rewrite (the 1-row
    * CROSS JOIN is the scalar-broadcast mechanism, c16 pattern).
    */
  private def sqlBpeIter(i: Int): String = {
    val prev = if (i == 1) "words0" else s"words${i - 1}"
    s"""pairs$i AS (
          SELECT pr AS pair, CAST(SUM(cnt) AS BIGINT) AS n FROM (
            SELECT cnt, UNNEST(list_transform(range(1, len(arr)), j ->
                     arr[CAST(j AS INT)] || ' ' || arr[CAST(j+1 AS INT)])) AS pr
            FROM (SELECT cnt, string_split(trim(sym, chr(1)), chr(1) || chr(1)) AS arr
                  FROM $prev))
          GROUP BY pr),
        best$i AS (SELECT $i AS iter, pair, n FROM pairs$i ORDER BY n DESC, pair LIMIT 1),
        words$i AS (
          SELECT w.cnt,
                 replace(w.sym,
                   chr(1) || string_split(b.pair, ' ')[1] || chr(1) || chr(1) || string_split(b.pair, ' ')[2] || chr(1),
                   chr(1) || replace(b.pair, ' ', '') || chr(1)) AS sym
          FROM $prev w CROSS JOIN best$i b)"""
  }

  /** The training CTE chain (vocabulary + every merge round's pair counts,
    * argmax, and rewrite) — shared by the t25 trajectory dump and t26's
    * apply, which replays the same chain to obtain the merge table.
    */
  def sqlBpeCtes(iters: Int): String =
    s"""w0 AS (
          SELECT tok, COUNT(*) AS cnt FROM ${sqlTokenRows()}
          WHERE NOT contains(tok, chr(1)) GROUP BY tok),
        words0 AS (
          SELECT cnt, regexp_replace(tok, '(.)', chr(1) || '\\1' || chr(1), 'g') AS sym
          FROM w0),
        ${(1 to iters).map(sqlBpeIter).mkString(",\n")}"""

  /** The full `iters`-round training trajectory replayed as a CTE chain. */
  def sqlBpe(iters: Int): String =
    s"""WITH ${sqlBpeCtes(iters)},
        allbest AS (${(1 to iters).map(i => s"SELECT * FROM best$i").mkString(" UNION ALL ")})
        SELECT CAST(iter AS INT) AS iter,
               string_split(pair, ' ')[1] AS lhs,
               string_split(pair, ' ')[2] AS rhs,
               replace(pair, ' ', '') AS merged, n
        FROM allbest ORDER BY iter"""

  /** p04's per-document flags: the [[qualitySignals]] plus `n_toks`
    * (BIGINT) and the envelope verdict `q_ok` — shared by the batch data
    * card and its streaming maintenance (x43), so the two cannot drift.
    */
  def dataCardDocFlags(docs: DataFrame): DataFrame = qualitySignals(docs)
    .withColumn("n_toks", col("n_tokens").cast(LongType))
    .withColumn("q_ok", qualityOk)

  /** The data-card oracle — p04's gate SQL, also pinning x43's drained
    * read-out (declared before `val all`: both interpolate it at init).
    */
  val sqlDataCard: String =
    s"""WITH ${DedupOps.sqlDecontCtes},
          flags AS (
            SELECT b.source,
                   CAST(len(b.toks) AS BIGINT) AS n_toks,
                   (COUNT(*) OVER (PARTITION BY b.text) > 1) AS is_dup,
                   (c.doc_id IS NOT NULL) AS is_cont,
                   ($sqlQualityOk) AS q_ok
            FROM tt8 b LEFT JOIN cont c ON c.doc_id = b.doc_id)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (is_dup) AS BIGINT) AS n_dup_docs,
               CAST(COUNT(*) FILTER (is_cont) AS BIGINT) AS n_contaminated,
               CAST(COUNT(*) FILTER (q_ok) AS BIGINT) AS n_quality
        FROM flags GROUP BY source ORDER BY source"""

  /** Every corpus bigram (doc_id, w1, w2) with its model counts: c2, the
    * count of (w1, w2), and c1 = Σ_w2 c2(w1, w2), the count of w1 as a
    * history (t30, t38). The (w1, w2) pairs are hash-partitioned by w1
    * once: the c2 aggregate and the c1 window both run on that
    * partitioning, so the rollup adds no exchange of its own, and c2 is
    * planned once instead of once per join.
    */
  private def bigramModel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = bigramsShared(s, d)
    val counts = bg.select("w1", "w2").repartition(col("w1"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .withColumn("c1", sum(col("c2")).over(Window.partitionBy("w1")))
    bg.join(counts, Seq("w1", "w2"))
  }

  /** The corpus bigram table (doc_id, w1, w2), an [[Artifacts.shared]]
    * dir. t30 (fluency) and t38 (surprisal) derive ALL their statistics
    * from this one positional-bigram explode,
    * and each previously replanned the tokenize + lambda explode in three
    * plan branches (bg, c2, c1). One narrow parquet write; both queries'
    * count tables and per-doc joins read it back.
    */
  def bigramsShared(s: SparkSession, d: String): DataFrame =
    Catalog.parquet(s, Artifacts.shared("graft_bigrams", d) { dir =>
      val dt = t(s, d, "documents")
        .select(col("doc_id"),
          filter(tokens(col("text")), x => length(x) > 0).as("toks"))
        .where(size(col("toks")) >= 2)
      dt.select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("toks")) - 2),
            i => struct(element_at(col("toks"), i + 1).as("w1"),
              element_at(col("toks"), i + 2).as("w2")))).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .write.mode("overwrite").parquet(dir)
    })

  val all: Seq[Q] = Seq(
    // Token counting: whitespace tokens + a BPE-ish regex token count.
    Q("t01_token_count",
      (s, d) => t(s, d, "documents")
        .select(
          col("doc_id"),
          size(tokens(col("text"))).as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens,
                     CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens
              FROM documents ORDER BY doc_id""")),

    // Quality scoring: length / punctuation / stopword-ratio heuristics.
    Q("t02_quality_score",
      (s, d) => qualitySignals(t(s, d, "documents"))
        .withColumn("n_punct", size(regexp_extract_all(col("text"), lit("[^a-z0-9\\s]"), lit(0))))
        .select("doc_id", "n_tokens", "n_punct", "n_stop", "avg_token_len", "stop_ratio")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
                      CAST(len(toks) AS INT) AS n_tokens,
                      CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS INT) AS n_punct,
                      ${sqlCountIn(stopwords)} AS n_stop,
                      $sqlAvgTokenLen AS avg_token_len,
                      $sqlStopRatio AS stop_ratio
               FROM $sqlDocToks ORDER BY doc_id"""),
      bench = true),

    // Language-ID heuristic: per-language signature-word hit counts, argmax
    // with a fixed precedence tie-break, 'unknown' when nothing matches.
    // All four language scores come from ONE `word_set_counts` kernel call
    // (single tokenization pass, codegen'd) — the separate `sig` projection
    // keeps CollapseProject from inlining the kernel 4×.
    Q("t03_lang_id",
      (s, d) => {
        val sig = graft.functions.GraftFunctions
          .word_set_counts(col("text"), langSignatures.map(_._2))
        val scored = langSignatures.map(_._1).zipWithIndex
          .foldLeft(t(s, d, "documents").withColumn("sig", sig)) {
            case (df, (lang, i)) => df.withColumn(s"s_$lang", col("sig").getItem(i))
          }
        val best = langSignatures.map(_._1).foldRight(lit("unknown")) {
          case (lang, elseCol) =>
            val isMax = langSignatures.map(_._1).map(o => col(s"s_$lang") >= col(s"s_$o"))
              .reduce(_ && _) && col(s"s_$lang") > 0
            when(isMax, lit(lang)).otherwise(elseCol)
        }
        scored.withColumn("pred_lang", best)
          .select("doc_id", "s_en", "s_es", "s_de", "s_fr", "pred_lang")
          .orderBy("doc_id")
      },
      Some {
        val scores = langSignatures.map { case (l, ws) => s"${sqlCountIn(ws)} AS s_$l" }.mkString(",\n                      ")
        val langs = langSignatures.map(_._1)
        val caseExpr = langs.map { l =>
          val conds = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
          s"WHEN $conds AND s_$l > 0 THEN '$l'"
        }.mkString("\n                      ")
        s"""SELECT doc_id, s_en, s_es, s_de, s_fr,
                   CASE $caseExpr ELSE 'unknown' END AS pred_lang
            FROM (SELECT doc_id, $scores
                  FROM $sqlDocToks)
            ORDER BY doc_id"""
      }),

    // Corpus-level token statistics: vocabulary via explode + two-level
    // aggregation (partial+final; the natural-skew case — stopwords are
    // heavy hitters — handled by map-side combine). Top-20 tokens with a
    // deterministic tie-break.
    Q("t05_corpus_stats",
      (s, d) => tokenRows(t(s, d, "documents"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok"))
        .limit(20),
      Some(s"""SELECT tok, COUNT(*) AS n FROM ${sqlTokenRows()}
              GROUP BY tok ORDER BY n DESC, tok LIMIT 20""")),

    // Quality FILTER — the curation decision built on t02's signals: keep
    // documents inside the length/stopword/avg-token-length envelope.
    // The filter composes into any downstream pipeline as a plain
    // predicate (pushdown-friendly, no shuffle).
    Q("t06_quality_filter",
      (s, d) => qualitySignals(t(s, d, "documents"))
        .where(qualityOk)
        .select("doc_id", "n_tokens", "stop_ratio")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, $sqlStopRatio AS stop_ratio
               FROM $sqlDocToks WHERE $sqlQualityOk ORDER BY doc_id""")),

    // PII-style redaction — the scrub step of a curation pipeline: regex
    // removal of email/phone-shaped substrings plus leak counts. The input
    // text is derived deterministically from events columns (the corpus
    // itself contains no digit patterns), so both engines scrub the same
    // strings. Map-only, codegen'd regexes — a pure scan at 100 TB.
    Q("t07_pii_redact",
      (s, d) => {
        val raw = concat(lit("call "), col("user_id").cast(StringType), lit("-"),
          col("event_id").cast(StringType), lit(" or mail u"),
          col("user_id").cast(StringType), lit("@ex"), col("event_type"), lit(".com end"))
        t(s, d, "events").select(col("event_id"), raw.as("raw"))
          .select(col("event_id"),
            regexp_replace(
              regexp_replace(col("raw"), "u\\d+@[a-z]+\\.com", "<EMAIL>"),
              "\\d+-\\d+", "<PHONE>").as("redacted"),
            size(regexp_extract_all(col("raw"), lit("u\\d+@[a-z]+\\.com"), lit(0))).as("n_email"),
            size(regexp_extract_all(col("raw"), lit("\\d+-\\d+"), lit(0))).as("n_phone"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
                     regexp_replace(regexp_replace(raw, 'u\d+@[a-z]+\.com', '<EMAIL>', 'g'),
                                    '\d+-\d+', '<PHONE>', 'g') AS redacted,
                     CAST(len(regexp_extract_all(raw, 'u\d+@[a-z]+\.com')) AS INT) AS n_email,
                     CAST(len(regexp_extract_all(raw, '\d+-\d+')) AS INT) AS n_phone
              FROM (SELECT event_id,
                           concat('call ', user_id, '-', event_id, ' or mail u',
                                  user_id, '@ex', event_type, '.com end') AS raw
                    FROM events)
              ORDER BY event_id""")),

    // Deterministic stratified sampling — per-language keep rates with NO
    // rand(): membership is a pure function of the stable id (doc_id mod
    // 100 under the stratum's quota), so the sample is reproducible across
    // retries/partitionings and the predicate is a map-only filter that
    // pushes into the scan (a shuffling/sorting sampler would be a full
    // exchange at 100 TB).
    Q("t08_stratified_sample",
      (s, d) => t(s, d, "documents")
        .where(pmod(col("doc_id"), lit(100)) < when(col("lang") === "en", 50).otherwise(20))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source FROM documents
              WHERE doc_id % 100 < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
              ORDER BY doc_id""")),

    // Corpus mixing — per-source mixture weights (even-numbered sources 50%,
    // odd 10%), the dataset-blending step of a training-data pipeline.
    // Same deterministic-id sampling; output is the achieved per-source mix.
    Q("t09_corpus_mix",
      (s, d) => {
        val srcNum = substring(col("source"), 4, 10).cast(IntegerType)
        t(s, d, "documents")
          .where(pmod(col("doc_id"), lit(100)) < when(srcNum % 2 === 0, 50).otherwise(10))
          .groupBy("source").agg(count(lit(1)).as("n_kept"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_kept FROM documents
              WHERE doc_id % 100 <
                    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 50 ELSE 10 END
              GROUP BY source ORDER BY source""")),

    // End-to-end curation PIPELINE: near-dup removal (exact-Jaccard cluster
    // apply) ∘ quality filter ∘ language distribution — the composition a
    // real training-data job runs, verified as ONE query in the hash gate
    // (its stages are also independently oracle-checked: d07b, t06).
    Q("p01_curation_pipeline",
      (s, d) => {
        val kept = Catalog.byName("d07b_dedup_apply_exact").build(s, d).select("doc_id")
        qualitySignals(t(s, d, "documents").join(kept, "doc_id"))
          .where(qualityOk)
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE ${DedupOps.sqlClusterCtes},
                 losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster)
               SELECT lang, COUNT(*) AS n_docs FROM $sqlDocToks
               WHERE doc_id NOT IN (SELECT doc_id FROM losers) AND $sqlQualityOk
               GROUP BY lang ORDER BY lang"""),
      bench = false),

    // TF-IDF keyword extraction — top-3 characteristic terms per document.
    // Scoring uses the LOG-FREE rational idf tf/df: ranking is identical to
    // tf·(N/df) (N is constant per corpus) and the score is one IEEE
    // division of two exact integers, so Spark and DuckDB agree
    // bit-for-bit (ln() differs across engines in the last ulp, which
    // would make near-tied ranks engine-dependent). Scale shape: explode →
    // two-level (doc,tok) count with map-side combine; the df table is
    // vocabulary-sized (≪ corpus, hash-joined on tok); the rank window is
    // partitioned BY doc_id — no global window, no single-task sort.
    Q("t10_tfidf_keywords",
      (s, d) => {
        val tf = tokenRows(t(s, d, "documents"), "doc_id")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          // tf feeds both the df aggregate and the score join — checkpoint
          // so the tokenize + explode + first aggregate runs once
          .localCheckpoint()
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val scored = tf.join(dfreq, "tok")
          .withColumn("score", col("tf").cast(DoubleType) / col("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(desc("score"), col("tok"))
        scored.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select("doc_id", "rk", "tok", "tf", "df", "score")
          .orderBy("doc_id", "rk")
      },
      Some(s"""WITH tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ${sqlTokenRows("doc_id")} GROUP BY 1, 2),
                 df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
                 scored AS (SELECT doc_id, tok, tf.tf, df.df,
                                   CAST(tf.tf AS DOUBLE) / df.df AS score,
                                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tok) AS rk
                            FROM tf JOIN df USING (tok))
               SELECT doc_id, CAST(rk AS INT) AS rk, tok, tf, df, score
               FROM scored WHERE rk <= 3 ORDER BY doc_id, rk""")),

    // Full curation pipeline v2 — the COMPLETE pre-training data flow:
    // benchmark decontamination (d09) ∘ near-dup cluster apply (d07b) ∘
    // quality filter (t06) → per-(lang, source) corpus composition. Each
    // stage is independently hash-green; this entry pins their COMPOSITION
    // (join ordering, filter interaction, the final mix report) in the
    // gate. Every join is against a doc-id set far smaller than the
    // corpus — broadcast-able at scale; the quality predicate stays
    // map-only.
    Q("p02_full_curation",
      (s, d) => {
        val decon = Catalog.byName("d09_decontaminate").build(s, d).select("doc_id")
        val undup = Catalog.byName("d07b_dedup_apply_exact").build(s, d).select("doc_id")
        qualitySignals(t(s, d, "documents").join(decon, "doc_id").join(undup, "doc_id"))
          .where(qualityOk)
          .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "source")
      },
      Some(s"""WITH RECURSIVE ${DedupOps.sqlClusterCtes},
                 losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster),
                 ${DedupOps.sqlDecontCtes}
               SELECT lang, source, COUNT(*) AS n_docs FROM $sqlDocToks
               WHERE source <> 'src0'
                 AND doc_id NOT IN (SELECT doc_id FROM cont)
                 AND doc_id NOT IN (SELECT doc_id FROM losers)
                 AND $sqlQualityOk
               GROUP BY lang, source ORDER BY lang, source"""),
      bench = false),

    // SEMANTIC curation pipeline — the modality-composing variant of p01:
    // keep documents that survive BOTH the text-signal quality envelope
    // (t06) AND embedding-space semantic dedup on the TRAINED quantizer
    // (sim10; embeddings are 1:1 with documents by id). This is the
    // SemDeDup-paper pipeline shape: cheap text filters first, semantic
    // pruning on the vector side, one id-join to combine — and the oracle
    // replays k-means training, within-cell pruning, AND the text filters
    // in a single DuckDB query.
    Q("p03_semantic_curation",
      (s, d) => {
        val kept = Catalog.byName("sim10_semdedup").build(s, d)
          .select(col("vec_id").as("doc_id"))
        qualitySignals(t(s, d, "documents").join(kept, "doc_id"))
          .where(qualityOk)
          .groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some(s"""WITH ${SimilarityOps.sqlSemDedupCtes},
                 qt AS $sqlDocToks
               SELECT lang, COUNT(*) AS n_docs
               FROM qt JOIN skept k ON qt.doc_id = k.vec_id
               WHERE $sqlQualityOk
               GROUP BY lang ORDER BY lang"""),
      bench = false),

    // Within-document REPETITION signal — the published LM quality filter
    // that catches boilerplate/spam: fraction of duplicated tokens and of
    // duplicated word-3-grams inside each document (1 − distinct/total).
    // Map-only codegen'd pass (word_shingles dedupes, so distinct 3-gram
    // count is its size; total is len(toks)−2); scores are single IEEE
    // divisions of exact integers — engine-exact. At 100 TB this is a pure
    // scan with full column pruning, like t01/t02.
    Q("t11_repetition",
      (s, d) => {
        val toks = tokens(col("text"))
        t(s, d, "documents")
          .withColumn("n_toks", size(toks))
          .withColumn("n_dtoks", size(array_distinct(toks)))
          .withColumn("n_3g", greatest(col("n_toks") - 2, lit(0)))
          .withColumn("n_d3g", size(DedupOps.shingles3(col("text"))))
          .select(col("doc_id"), col("n_toks"), col("n_dtoks"), col("n_3g"), col("n_d3g"),
            (lit(1.0) - col("n_dtoks").cast(DoubleType) / col("n_toks")).as("dup_tok_frac"),
            when(col("n_3g") > 0, lit(1.0) - col("n_d3g").cast(DoubleType) / col("n_3g"))
              .otherwise(lit(0.0)).as("dup_3g_frac"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
                      CAST(len(toks) AS INT) AS n_toks,
                      CAST(len(list_distinct(toks)) AS INT) AS n_dtoks,
                      CAST(greatest(len(toks) - 2, 0) AS INT) AS n_3g,
                      CAST(len(g3) AS INT) AS n_d3g,
                      1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_tok_frac,
                      CASE WHEN len(toks) - 2 > 0
                           THEN 1.0 - CAST(len(g3) AS DOUBLE) / (len(toks) - 2)
                           ELSE 0.0 END AS dup_3g_frac
               FROM (SELECT *, ${DedupOps.sqlShingles3} AS g3 FROM $sqlDocToks)
               ORDER BY doc_id"""),
      bench = true),

    // One BPE-style TOKENIZER-TRAINING step: corpus-wide adjacent-pair
    // (word-bigram) frequencies with MULTIPLICITY, top-20 merge candidates
    // by count with a deterministic tie-break — the statistic each BPE
    // merge iteration ranks (at the word level here; byte-level is the
    // same dataflow over a different alphabet). Bigrams come from the
    // codegen'd non-deduping `word_ngrams` kernel (word_shingles' set
    // semantics would undercount repeated pairs; the transform/sequence
    // HOF form runs interpreted) — a map-only projection, then the same
    // skew-tolerant two-level count as t05.
    Q("t12_bpe_merge_step",
      (s, d) => t(s, d, "documents")
        .select(explode(graft.functions.GraftFunctions.word_ngrams(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("bigram"))
        .limit(20),
      Some("""SELECT bigram, COUNT(*) AS n
              FROM (SELECT UNNEST(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bigram
                    FROM (SELECT list_filter(string_split_regex(trim(text), '\s+'),
                                             t -> length(t) > 0) AS toks
                          FROM documents))
              GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""")),

    // Vocabulary-COVERAGE quality signal: fraction of a document's tokens
    // outside the corpus top-1000 vocabulary (out-of-vocabulary ratio) —
    // the classic filter for gibberish / wrong-domain text against a
    // reference vocab. Two stages, both scale-shaped: the vocab is a
    // bounded top-k (broadcast-able everywhere), membership is a semi-join
    // of the exploded tokens against it, and the ratio is one IEEE
    // division of exact counts.
    Q("t13_oov_ratio",
      (s, d) => {
        val toksEx = tokenRows(t(s, d, "documents"), "doc_id")
        val vocab = toksEx.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("tok")).limit(1000).select("tok")
        val perDoc = toksEx.groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
        val inVocab = toksEx.join(broadcast(vocab), "tok")
          .groupBy("doc_id").agg(count(lit(1)).as("n_in"))
        perDoc.join(inVocab, Seq("doc_id"), "left")
          .withColumn("n_in", coalesce(col("n_in"), lit(0L)))
          .withColumn("oov_ratio", lit(1.0) - col("n_in").cast(DoubleType) / col("n_toks"))
          .select("doc_id", "n_toks", "n_in", "oov_ratio")
          .orderBy("doc_id")
      },
      Some(s"""WITH tf AS ${sqlTokenRows("doc_id")},
                 vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS n FROM tf GROUP BY tok
                                            ORDER BY n DESC, tok LIMIT 1000)),
                 perdoc AS (SELECT doc_id, COUNT(*) AS n_toks FROM tf GROUP BY doc_id),
                 iv AS (SELECT doc_id, COUNT(*) AS n_in FROM tf SEMI JOIN vocab USING (tok) GROUP BY doc_id)
               SELECT p.doc_id AS doc_id, p.n_toks, COALESCE(iv.n_in, 0) AS n_in,
                      1.0 - CAST(COALESCE(iv.n_in, 0) AS DOUBLE) / p.n_toks AS oov_ratio
               FROM perdoc p LEFT JOIN iv ON iv.doc_id = p.doc_id
               ORDER BY p.doc_id""")),

    // Document fingerprint: position-weighted token hash mod a prime
    // (rolling-hash family; deterministic, engine-independent arithmetic).
    // One codegen'd pass (`token_fingerprint`) — bit-identical to the
    // transform+aggregate dataflow form, which runs interpreted per element
    // (equivalence pinned in TextKernelSpec).
    Q("t04_fingerprint",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.GraftFunctions.token_fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                            (w, i) -> (CAST(ascii(w) AS BIGINT) * 31 + length(w)) * i)) % 1000000007 AS BIGINT) AS fingerprint
              FROM documents ORDER BY doc_id""")),

    // TEMPERATURE-SCALED mixture sampling — the multi-source rebalancing
    // step of multilingual training pipelines (mT5/XLM-R style: source
    // share ∝ n_s^α, α = 0.5 upsamples low-resource sources relative to
    // their natural share). Deterministic one-pass design: per-source
    // keep-rate ∝ n_s^α / n_s, normalized so the scarcest source keeps
    // 100%, materialized as an integer ppm threshold tested against a
    // multiplicative doc_id hash — no rand(), so the sample is
    // retry-idempotent and engine-reproducible. The per-source rate table
    // is ≪ corpus (broadcast); the normalizing max is a one-row aggregate.
    Q("t14_temperature_mix",
      (s, d) => {
        val counts = t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n_total"))
        val pd = counts.withColumn("__pd", sqrt(col("n_total").cast(DoubleType)) / col("n_total"))
        val rates = pd.crossJoin(broadcast(pd.agg(max(col("__pd")).as("__mx"))))
          .withColumn("rate_ppm", floor(col("__pd") / col("__mx") * 1000000).cast(LongType))
          .select("lang", "n_total", "rate_ppm")
        t(s, d, "documents")
          .join(broadcast(rates), Seq("lang"))
          .where(docHash(col("doc_id"), 1000000L) < col("rate_ppm"))
          .groupBy("lang", "n_total", "rate_ppm")
          .agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH counts AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
                 pd AS (SELECT lang, n_total, SQRT(CAST(n_total AS DOUBLE)) / n_total AS pd FROM counts),
                 rates AS (SELECT lang, n_total,
                                  CAST(FLOOR(pd / (SELECT MAX(pd) FROM pd) * 1000000) AS BIGINT) AS rate_ppm
                           FROM pd)
              SELECT r.lang, r.n_total, r.rate_ppm, COUNT(*) AS n_kept
              FROM documents d JOIN rates r USING (lang)
              WHERE ${sqlDocHash("d.doc_id", 1000000L)} < r.rate_ppm
              GROUP BY 1, 2, 3 ORDER BY 1""")),

    // Unigram corpus-frequency quality score: a doc's mean token corpus
    // probability — rare-garbage-token documents score low, the unigram
    // flavor of LM-perplexity filtering with NO float-summation order
    // dependence: per-doc Σ count(token) is exact integer arithmetic, the
    // only float op is one final division (log-prob variants would hang
    // the gate on libm ulp parity). Corpus counts are a two-level agg;
    // the per-token join is an equi-join on the token — the same shape at
    // any corpus size.
    Q("t15_unigram_score",
      (s, d) => {
        val toks = tokenRows(t(s, d, "documents"), "doc_id")
        val cnt = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = cnt.agg(sum(col("c")).as("__n_corpus"))
        toks.join(cnt, "tok")
          .groupBy("doc_id").agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("sum_tf"))
          .crossJoin(broadcast(tot))
          .withColumn("mean_tf",
            col("sum_tf").cast(DoubleType) / (col("n_tokens") * col("__n_corpus")))
          .select("doc_id", "n_tokens", "sum_tf", "mean_tf")
          .orderBy("doc_id")
      },
      Some(s"""WITH tf AS ${sqlTokenRows("doc_id")},
                 cnt AS (SELECT tok, COUNT(*) AS c FROM tf GROUP BY tok),
                 tot AS (SELECT COUNT(*) AS n_corpus FROM tf),
                 per AS (SELECT t.doc_id, COUNT(*) AS n_tokens, CAST(SUM(c.c) AS BIGINT) AS sum_tf
                         FROM tf t JOIN cnt c USING (tok) GROUP BY 1)
              SELECT doc_id, n_tokens, sum_tf,
                     CAST(sum_tf AS DOUBLE) / (n_tokens * (SELECT n_corpus FROM tot)) AS mean_tf
              FROM per ORDER BY doc_id""")),

    // Deterministic corpus shuffle — the "shuffle the training data" step,
    // reproducibly: global order by a multiplicative doc_id hash (no
    // rand(); re-runs and retries see the identical permutation), here the
    // first 100 in shuffled order. Top-k over a computed key plans as a
    // distributed TakeOrdered (per-partition heads + one bounded merge),
    // not a full global sort; the full-permutation variant is the same
    // expression under a range-partitioned sort.
    Q("t16_corpus_shuffle",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), docHash(col("doc_id"), 1000000007L).as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(100),
      Some(s"""SELECT doc_id, ${sqlDocHash("doc_id", 1000000007L)} AS shuffle_key
              FROM documents ORDER BY shuffle_key, doc_id LIMIT 100""")),

    // EPOCH UPSAMPLING — the complement of t14's downsampling: low-resource
    // languages are REPEATED (integer epochs, factor = max-lang count div
    // own count) toward equal representation — the "more epochs over
    // scarce high-quality data" move of LLM data recipes. The repeat is a
    // deterministic sequence+explode inside the projection (no shuffle, no
    // rand()); the per-lang factor table is a broadcast; emitted counts
    // verify the exact expansion.
    Q("t19_upsample_repeat",
      (s, d) => {
        val counts = t(s, d, "documents").groupBy("lang").agg(count(lit(1)).as("n_total"))
        val factors = counts.crossJoin(broadcast(counts.agg(max(col("n_total")).as("__mx"))))
          .withColumn("repeat_factor", greatest(lit(1L), expr("__mx div n_total")))
          .select("lang", "n_total", "repeat_factor")
        t(s, d, "documents")
          .join(broadcast(factors), Seq("lang"))
          .select(col("lang"), col("n_total"), col("repeat_factor"),
            explode(sequence(lit(1L), col("repeat_factor"))).as("epoch"))
          .groupBy("lang", "n_total", "repeat_factor")
          .agg(count(lit(1)).as("n_emitted"))
          .orderBy("lang")
      },
      Some("""WITH counts AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang),
                 factors AS (SELECT lang, n_total,
                                    GREATEST(1, (SELECT MAX(n_total) FROM counts) // n_total) AS repeat_factor
                             FROM counts)
              SELECT f.lang, f.n_total, f.repeat_factor, COUNT(*) AS n_emitted
              FROM documents d JOIN factors f USING (lang),
                   LATERAL (SELECT UNNEST(range(1, f.repeat_factor + 1)) AS epoch) e
              GROUP BY 1, 2, 3 ORDER BY 1""")),

    // N-GRAM NOVELTY — the memorization-risk signal: what fraction of a
    // document's distinct 3-grams appear in NO other document (df == 1).
    // Low novelty = the doc is assembled from corpus-common spans
    // (boilerplate / near-dup debris that dedup thresholds missed); high
    // novelty = unique content. Corpus df is the same two-level aggregate
    // as t05/t10; the membership join runs on (doc, shingle) pairs —
    // equi-join, never a pair space. Exact integers + one final division.
    Q("t18_ngram_novelty",
      (s, d) => {
        val sh = t(s, d, "documents")
          .select(col("doc_id"), explode(DedupOps.shingles3(col("text"))).as("shingle"))
        val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        sh.join(df, "shingle")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_3g"),
            count_if(col("df") === 1).as("n_unique"))
          .withColumn("novelty", col("n_unique").cast(DoubleType) / col("n_3g"))
          .select("doc_id", "n_3g", "n_unique", "novelty")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
                 SELECT doc_id, UNNEST(${DedupOps.sqlShingles3}) AS shingle FROM $sqlDocToks),
               dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
               SELECT doc_id, COUNT(*) AS n_3g,
                      CAST(COUNT(*) FILTER (df = 1) AS BIGINT) AS n_unique,
                      CAST(COUNT(*) FILTER (df = 1) AS DOUBLE) / COUNT(*) AS novelty
               FROM sh JOIN dfreq USING (shingle)
               GROUP BY doc_id ORDER BY doc_id"""),
      bench = false),

    // Context-window sequence chunking: split each document's token stream
    // into fixed 128-token training chunks (the packing-free baseline of
    // sequence preparation) — per-doc chunk list is computed inside the
    // projection (sequence + explode, no join, no shuffle); row count
    // scales with corpus tokens / 128.
    Q("t17_sequence_chunks",
      // the REAL degenerate case: a whitespace-only doc tokenizes to one
      // EMPTY token on both engines (split(trim) semantics — n_toks is
      // never 0), which would emit a phantom 1-token chunk; filter
      // genuinely empty docs on both sides instead
      (s, d) => t(s, d, "documents")
        .where(trim(col("text")) =!= "")
        .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_toks"))
        .select(col("doc_id"), col("n_toks"),
          explode(sequence(lit(0L), expr("(n_toks - 1) div 128"))).as("chunk_id"))
        .withColumn("chunk_len", least(lit(128L), col("n_toks") - col("chunk_id") * 128))
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH nt AS (SELECT doc_id,
                                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
                          FROM documents
                          WHERE trim(text) <> '')
              SELECT doc_id, n_toks, chunk_id, LEAST(128, n_toks - chunk_id * 128) AS chunk_len
              FROM nt, LATERAL (SELECT UNNEST(range(0, (n_toks - 1) // 128 + 1)) AS chunk_id)
              ORDER BY doc_id, chunk_id""")),

    // SEQUENCE PACKING (concat-and-chunk) — t17's packing-free chunking
    // wastes a partial chunk per document; production pipelines CONCATENATE
    // documents in a deterministic order and cut fixed 128-token sequences
    // across document boundaries. A per-source running-total window would
    // put a WHOLE source through one task (billions of docs at 100 TB), so
    // the offset is computed with the c19 two-phase shape instead
    // (StockOps.groupedRunningTotal: range partition on (source, doc_id) →
    // bounded per-(partition, source) running sums → broadcast per-source
    // prefix offsets), bit-identical to the window form (StockOpsSpec).
    Q("t20_pack_sequences",
      (s, d) => {
        val nt = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(tokens(col("text"))).cast(LongType).as("n_toks"))
        StockOps.groupedRunningTotal(nt, "source", "doc_id", "n_toks", "end_tok")
          .withColumn("start_tok", col("end_tok") - col("n_toks"))
          .withColumn("first_chunk", expr("start_tok div 128"))
          .withColumn("last_chunk", expr("(end_tok - 1) div 128"))
          .select("doc_id", "source", "n_toks", "start_tok", "first_chunk", "last_chunk")
          .orderBy("doc_id")
      },
      Some("""WITH nt AS (SELECT doc_id, source,
                                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
                          FROM documents),
                 c AS (SELECT doc_id, source, n_toks,
                              CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
                       FROM nt)
              SELECT doc_id, source, n_toks, end_tok - n_toks AS start_tok,
                     (end_tok - n_toks) // 128 AS first_chunk,
                     (end_tok - 1) // 128 AS last_chunk
              FROM c ORDER BY doc_id""")),

    // DETERMINISTIC TRAIN/VAL/TEST SPLIT — the holdout assignment every
    // training corpus needs, as a pure function of doc_id (the t14-style
    // masked multiplicative hash into permille buckets: 80/10/10). No
    // rand(): re-runs, retries and incremental reloads land every document
    // in the same split forever, and the assignment is pushdown-friendly
    // (a filter on the hash, not a join against a stored assignment).
    // Emitted as the per-(source, split) composition report.
    Q("t21_train_val_test",
      (s, d) => {
        val h = docHash(col("doc_id"), 1000L)
        t(s, d, "documents")
          .withColumn("split",
            when(h < 800, "train").when(h < 900, "val").otherwise("test"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("source", "split")
      },
      Some(s"""SELECT source,
                     CASE WHEN ${sqlDocHash("doc_id", 1000L)} < 800 THEN 'train'
                          WHEN ${sqlDocHash("doc_id", 1000L)} < 900 THEN 'val'
                          ELSE 'test' END AS split,
                     COUNT(*) AS n_docs
              FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")),

    // KEYWORD SEARCH — lexical retrieval over the corpus for a fixed query
    // term set: per-doc score = Σ_q tf(doc,q) · w(q), with the idf-style
    // weight w(q) = floor(N·10⁶ / df(q)) materialized as an INTEGER (the
    // log-free rational idf of t10 — BM25's log would hang the gate on
    // libm ulp parity, and floor-division keeps every score exact and
    // order-independent). Scale shape: the token scan filters to the query
    // terms FIRST (the posting-list read), the weight table is |Q| rows
    // (broadcast), the top-10 is a distributed TakeOrdered — no global
    // sort, no corpus-wide join.
    Q("t22_keyword_search",
      (s, d) => keywordTfWeights(s, d, KeywordTerms)
        .groupBy("doc_id")
        .agg(sum(col("tf") * col("weight")).as("score"),
          count(lit(1)).as("n_terms"))
        .orderBy(desc("score"), col("doc_id")).limit(10),
      Some(s"""WITH qt AS (SELECT * FROM ${sqlTokenRows("doc_id")} WHERE tok IN ('spark', 'join', 'stream')),
                 tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
                 w AS (SELECT tok, ((SELECT COUNT(*) FROM documents) * 1000000) // COUNT(*) AS weight
                       FROM tf GROUP BY tok)
              SELECT doc_id, CAST(SUM(tf.tf * w.weight) AS BIGINT) AS score,
                     COUNT(*) AS n_terms
              FROM tf JOIN w USING (tok)
              GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""")),

    // LINEAR QUALITY CLASSIFIER — the fixed-weight model-based filter
    // stage of curation pipelines (fastText-style quality classifiers),
    // reduced to its inference dataflow: a per-doc integer feature vector
    // (token count, stopword hits, character mass) dotted with frozen
    // integer weights, threshold on the raw margin. All-integer arithmetic
    // (the sigmoid is monotone, so thresholding the margin IS thresholding
    // the probability) keeps the decision boundary engine-exact. Inference
    // is map-only except the one codegen'd stopword-count kernel — the
    // same narrow scan at any corpus size.
    Q("t23_quality_classifier",
      (s, d) => {
        val toks = tokens(col("text"))
        t(s, d, "documents")
          .withColumn("n_toks", size(toks).cast(LongType))
          .withColumn("n_stop", countIn(col("text"), stopwords))
          .withColumn("score",
            lit(50L) * col("n_stop") + lit(10L) * col("n_toks") - col("n_chars"))
          .withColumn("kept", col("score") >= 600L)
          .select("doc_id", "n_toks", "n_stop", "score", "kept")
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
                      CAST(len(toks) AS BIGINT) AS n_toks,
                      ${sqlCountIn(stopwords)} AS n_stop,
                      50 * CAST(${sqlCountIn(stopwords)} AS BIGINT)
                        + 10 * CAST(len(toks) AS BIGINT) - n_chars AS score,
                      (50 * CAST(${sqlCountIn(stopwords)} AS BIGINT)
                        + 10 * CAST(len(toks) AS BIGINT) - n_chars) >= 600 AS kept
               FROM $sqlDocToks ORDER BY doc_id""")),

    // DATA CARD — the per-source governance summary a curation run ships
    // with the dataset: document and token counts, exact-duplicate
    // incidence, benchmark contamination, and quality-envelope pass rate,
    // one row per source. Composes the d01/d09/t06 signals: duplicate
    // detection is a window count over the content (one shuffle on the
    // text key, the d01 shape), contamination is the d09 broadcast
    // semi-join, the quality envelope is map-only; the report itself is a
    // sources-sized aggregate. Every count is exact integer arithmetic.
    Q("p04_data_card",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        // d09's contaminated-id set — ONE definition (DedupOps) shared by
        // every decontamination surface
        val contaminated = DedupOps.contaminatedIds(s, d)
          .withColumn("is_cont", lit(true))
        dataCardDocFlags(docs)
          .withColumn("n_copies", count(lit(1)).over(Window.partitionBy("text")))
          .join(contaminated, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            count_if(col("n_copies") > 1).as("n_dup_docs"),
            count_if(coalesce(col("is_cont"), lit(false))).as("n_contaminated"),
            count_if(col("q_ok")).as("n_quality"))
          .orderBy("source")
      },
      Some(sqlDataCard),
      bench = false),

    // BOILERPLATE EXTRACTION — trafilatura-class main-content stripping:
    // per LINE of a page, drop anchor-bearing blocks (nav/header/footer)
    // and low-text-density markup; keep what remains. Thresholds are
    // integer cross-multiplications (text_len·2 ≥ raw_len, anchor count
    // = 0) so the keep/drop boundary is engine-exact — no float ratios.
    // The fixture corpus has no markup, so the page is first synthesized
    // DETERMINISTICALLY from each document on BOTH engines (tokens →
    // 10-token lines; every 3rd line wrapped as an anchor-laden nav div,
    // the rest as <p>; constant header/footer) — the d17 convention:
    // build the adversarial input from the fixture, then prove the
    // operator strips exactly the injected boilerplate. The extractor
    // itself is map-only (one projection, no joins), so at 100 TB it
    // rides the scan.
    Q("t24_boilerplate_extract",
      (s, d) => pageLines(t(s, d, "documents"))
        .withColumn("wrapped", expr(
          """transform(lines, (l, j) -> CASE WHEN j % 3 = 0
             THEN concat('<div class="nav"><a href="#">', l, '</a></div>')
             ELSE concat('<p>', l, '</p>') END)"""))
        .withColumn("page", concat_ws("\n",
          lit("""<header><a href="/">home</a> <a href="/about">about</a></header>"""),
          array_join(col("wrapped"), "\n"),
          lit("""<footer><a href="/tos">terms</a> copyright 2026</footer>""")))
        // ——— the operator: everything below consumes ONLY `page` ———
        .withColumn("plines", split(col("page"), "\n"))
        .withColumn("n_lines", size(col("plines")))
        .withColumn("kept", expr(
          """filter(plines, l -> length(l) = length(replace(l, '<a', ''))
             AND length(regexp_replace(l, '<[^>]*>', '')) * 2 >= length(l))"""))
        .withColumn("n_kept", size(col("kept")))
        .withColumn("content", expr(
          "array_join(transform(kept, l -> regexp_replace(l, '<[^>]*>', '')), ' ')"))
        .select("doc_id", "n_lines", "n_kept", "content")
        .orderBy("doc_id"),
      Some(s"""WITH $sqlPageLineCtes,
                 wr AS (SELECT doc_id, list_transform(range(0, len(lines)), j ->
                          CASE WHEN j % 3 = 0
                          THEN '<div class="nav"><a href="#">' || lines[CAST(j+1 AS INT)] || '</a></div>'
                          ELSE '<p>' || lines[CAST(j+1 AS INT)] || '</p>' END) AS wrapped
                        FROM ln),
                 pg AS (SELECT doc_id,
                          '<header><a href="/">home</a> <a href="/about">about</a></header>' || chr(10) ||
                          array_to_string(wrapped, chr(10)) || chr(10) ||
                          '<footer><a href="/tos">terms</a> copyright 2026</footer>' AS page
                        FROM wr),
                 ex AS (SELECT doc_id, string_split(page, chr(10)) AS plines FROM pg),
                 ke AS (SELECT doc_id, len(plines) AS n_lines,
                          list_filter(plines, l -> length(l) = length(replace(l, '<a', ''))
                            AND length(regexp_replace(l, '<[^>]*>', '', 'g')) * 2 >= length(l)) AS kept
                        FROM ex)
               SELECT doc_id, CAST(n_lines AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_kept,
                      -- DuckDB's array_to_string([]) is NULL; Spark's
                      -- array_join([]) is '' — align on ''
                      COALESCE(array_to_string(list_transform(kept, l ->
                        regexp_replace(l, '<[^>]*>', '', 'g')), ' '), '') AS content
               FROM ke ORDER BY doc_id""")),

    // BPE VOCABULARY TRAINING — the tokenizer-training loop itself, run
    // the way it scales: the corpus is scanned ONCE into a (word, count)
    // vocabulary; each of the 6 merge rounds is then (1) a distributed
    // frequency-weighted pair count over the VOCABULARY (map-side
    // combined — O(vocab) per round, not O(corpus)), (2) a one-ROW argmax
    // collect (count desc, pair asc), (3) a map-only symbol rewrite via
    // marker-bracketed `replace` (see [[bpeWords]]). All counts are exact
    // integers; tie-breaks are binary string compares — the whole
    // trajectory is engine-exact, and the oracle replays every round as a
    // CTE chain (the sqlPqIter convention). Output = the learned merge
    // table, the artifact a tokenizer build ships.
    Q("t25_bpe_train",
      (s, d) => bpeMerges(s, d, BpeIters),
      Some(sqlBpe(BpeIters))),

    // BPE TOKENIZATION (apply) — t25's trained merge table applied to the
    // corpus, the tokenize step every training pipeline runs after the
    // tokenizer build. The merge table is a 6-row DRIVER ARTIFACT (the
    // trainedCentroids convention), so application is a map-only chain of
    // 6 literal marker-bracketed `replace`s per token followed by ONE
    // per-doc aggregate. Counting needs no parsing: stripping the markers
    // from a merged symbol string returns the original token, so
    // n_bpe = (len(sym) − len(tok)) / 2 — summed per doc before the single
    // exact division. compression (chars per BPE token) is one IEEE
    // division of two exact integers. The oracle replays the training
    // chain (shared sqlBpeCtes) and the same 6 rewrites as 1-row CROSS
    // JOINs. Docs with zero tokens have nothing to tokenize and are
    // absent on both engines.
    Q("t26_bpe_apply",
      (s, d) => {
        val sym0 = regexp_replace(col("tok"), "(.)", s"$BM$$1$BM")
        val symN = bpeTrainedMerges(s, d, BpeIters).foldLeft(sym0) {
          case (c, (_, l, r, m, _)) => replace(c, lit(BM + l + BM + BM + r + BM), lit(BM + m + BM))
        }
        bpeTokens(t(s, d, "documents"), "doc_id")
          .withColumn("sym", symN)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(length(col("tok"))).as("n_chars"),
            ((sum(length(col("sym"))) - sum(length(col("tok")))) / lit(2))
              .cast(LongType).as("n_bpe"))
          .withColumn("compression",
            col("n_chars").cast(DoubleType) / col("n_bpe").cast(DoubleType))
          .orderBy("doc_id")
      },
      Some {
        val rewrites = (1 to BpeIters).map { i =>
          s"""dt$i AS (
                SELECT d.doc_id, d.tok,
                       replace(d.sym,
                         chr(1) || string_split(b.pair, ' ')[1] || chr(1) || chr(1) || string_split(b.pair, ' ')[2] || chr(1),
                         chr(1) || replace(b.pair, ' ', '') || chr(1)) AS sym
                FROM dt${i - 1} d CROSS JOIN best$i b)"""
        }.mkString(",\n")
        s"""WITH ${sqlBpeCtes(BpeIters)},
              dt0 AS (
                SELECT doc_id, tok, regexp_replace(tok, '(.)', chr(1) || '\\1' || chr(1), 'g') AS sym
                FROM ${sqlTokenRows("doc_id")} WHERE NOT contains(tok, chr(1))),
              $rewrites
            SELECT doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
                   CAST((SUM(length(sym)) - SUM(length(tok))) / 2 AS BIGINT) AS n_bpe,
                   CAST(SUM(length(tok)) AS DOUBLE)
                     / CAST(CAST((SUM(length(sym)) - SUM(length(tok))) / 2 AS BIGINT) AS DOUBLE) AS compression
            FROM dt$BpeIters
            GROUP BY doc_id ORDER BY doc_id"""
      }),

    // C4-STYLE HEURISTIC CLEANUP — the classic web-corpus page filter
    // (line-level: keep lines with ≥5 words ending in terminal
    // punctuation; page-level: ≥3 surviving lines, no '{', no
    // "lorem ipsum"). The fixture corpus has no pages, so the page is
    // synthesized DETERMINISTICALLY from each doc on BOTH engines (the
    // t24 convention): tokens → 10-token lines, every 2nd line given a
    // terminal '.', a code line ("function() {") injected into every 7th
    // doc and a lorem line into every 11th — then the filter must drop
    // exactly the injected noise. Every rule is an integer/string
    // predicate (word counts, last-char tests, substring containment) —
    // no floats anywhere — and the operator itself is map-only: at
    // 100 TB it rides the scan.
    Q("t27_c4_filters",
      (s, d) => pageLines(t(s, d, "documents"))
        .withColumn("lines", expr(
          "transform(lines, (l, j) -> CASE WHEN j % 2 = 0 THEN concat(l, '.') ELSE l END)"))
        .withColumn("lines", expr(
          "CASE WHEN doc_id % 7 = 0 THEN concat(lines, array('function() {')) ELSE lines END"))
        .withColumn("lines", expr(
          "CASE WHEN doc_id % 11 = 0 THEN concat(lines, array('lorem ipsum dolor sit amet.')) ELSE lines END"))
        .withColumn("page", array_join(col("lines"), "\n"))
        // ——— the filter: everything below consumes ONLY `page` ———
        .withColumn("plines", split(col("page"), "\n"))
        .withColumn("kept", expr(
          "filter(plines, l -> size(split(l, ' ')) >= 5 AND substring(l, -1, 1) IN ('.', '!', '?'))"))
        .withColumn("n_lines", size(col("plines")).cast(LongType))
        .withColumn("n_kept", size(col("kept")).cast(LongType))
        .withColumn("has_brace", col("page").contains("{"))
        .withColumn("has_lorem", col("page").contains("lorem ipsum"))
        .withColumn("keep", col("n_kept") >= 3 && !col("has_brace") && !col("has_lorem"))
        .select("doc_id", "n_lines", "n_kept", "has_brace", "has_lorem", "keep")
        .orderBy("doc_id"),
      Some(s"""WITH $sqlPageLineCtes,
                 p1 AS (SELECT doc_id, list_transform(range(0, len(lines)), j ->
                          CASE WHEN j % 2 = 0 THEN lines[CAST(j+1 AS INT)] || '.'
                          ELSE lines[CAST(j+1 AS INT)] END) AS lines FROM ln),
                 p2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
                          THEN list_append(lines, 'function() {') ELSE lines END AS lines FROM p1),
                 p3 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
                          THEN list_append(lines, 'lorem ipsum dolor sit amet.') ELSE lines END AS lines FROM p2),
                 pg AS (SELECT doc_id, array_to_string(lines, chr(10)) AS page FROM p3),
                 ke AS (SELECT doc_id, page, string_split(page, chr(10)) AS plines,
                          list_filter(string_split(page, chr(10)), l ->
                            len(string_split(l, ' ')) >= 5 AND (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?')) AS kept
                        FROM pg)
               SELECT doc_id,
                      CAST(len(plines) AS BIGINT) AS n_lines,
                      CAST(len(kept) AS BIGINT) AS n_kept,
                      contains(page, '{') AS has_brace,
                      contains(page, 'lorem ipsum') AS has_lorem,
                      (len(kept) >= 3 AND NOT contains(page, '{')
                       AND NOT contains(page, 'lorem ipsum')) AS keep
               FROM ke ORDER BY doc_id""")),

    // GLOBAL QUALITY-QUARTILE FILTER — "keep the best 25% of the corpus"
    // with a GLOBAL ranking, the selection move quality-pruning pipelines
    // run after scoring. A naive global NTILE is one ORDER BY over the
    // whole corpus through a single task; this uses the c19 two-phase
    // machinery (range repartition → per-partition ranks → broadcast
    // prefix offsets — globalDistributionRanks), so the global quartile
    // boundary is computed with NO single-partition stage and is
    // bit-identical to the window form (c19's spec pins the helper). The
    // score is an exact integer (1000·stopword-hits + token count) with
    // doc_id tie-break, so the quartile edge is engine-exact; the oracle
    // affords the plain global window.
    Q("t28_quality_quartile",
      (s, d) => {
        val toks = tokens(col("text"))
        val scored = t(s, d, "documents")
          .withColumn("score",
            (countIn(col("text"), stopwords) * 1000L + size(toks).cast(LongType)).as("score"))
          .select("doc_id", "score")
        StockOps.globalDistributionRanks(scored, Seq(col("score").desc, col("doc_id")), 4)
          .where(col("ntile") === 1)
          .select("doc_id", "score")
          .orderBy("doc_id")
      },
      Some(s"""WITH scored AS (
                 SELECT doc_id,
                        CAST(${sqlCountIn(stopwords)} * 1000 + len(toks) AS BIGINT) AS score
                 FROM $sqlDocToks),
                 rk AS (SELECT doc_id, score,
                               NTILE(4) OVER (ORDER BY score DESC, doc_id) AS nt
                        FROM scored)
               SELECT doc_id, score FROM rk WHERE nt = 1 ORDER BY doc_id""")),

    // GOPHER QUALITY RULES (Rae et al.'s repetition-free doc filter, the
    // curation heuristic set MassiveText shipped): per document — word
    // count in [50, 100000], mean word length in [3, 10], symbol-to-word
    // ratio ('#' and '...') ≤ 0.1, ≥ 80% of words contain an alphabetic
    // character, and ≥ 2 distinct required stopwords present. Every rule
    // is an exact integer cross-multiplication (10·sum_len vs n etc. — no
    // ratio floats to diverge on); total token chars is
    // length(array_join(toks, '')) (no per-element lambda in the hot
    // path); symbol counts are the replace-difference convention. Map-only
    // over `text` — embarrassingly parallel at any corpus size, and the
    // signal columns (not just the verdict) are emitted so downstream
    // mixing can re-threshold without a rescan.
    Q("t29_gopher_rules",
      (s, d) => {
        val reqStops = Seq("the", "and", "of", "to", "a")
        t(s, d, "documents")
          .withColumn("toks", tokens(col("text")))
          .withColumn("n_words", size(col("toks")).cast(LongType))
          .withColumn("sum_len", length(array_join(col("toks"), "")).cast(LongType))
          .withColumn("n_alpha", expr("size(filter(toks, t -> t rlike '[a-zA-Z]'))").cast(LongType))
          .withColumn("n_sym",
            (length(col("text")) - length(replace(col("text"), lit("#"), lit(""))) +
              expr("(length(text) - length(replace(text, '...', ''))) div 3")).cast(LongType))
          .withColumn("n_stop",
            size(array_intersect(array_distinct(col("toks")),
              array(reqStops.map(lit): _*))).cast(LongType))
          .withColumn("pass",
            col("n_words") >= 50 && col("n_words") <= 100000 &&
              col("sum_len") >= col("n_words") * 3 && col("sum_len") <= col("n_words") * 10 &&
              col("n_sym") * 10 <= col("n_words") &&
              col("n_alpha") * 5 >= col("n_words") * 4 &&
              col("n_stop") >= 2)
          .select("doc_id", "n_words", "sum_len", "n_alpha", "n_sym", "n_stop", "pass")
          .orderBy("doc_id")
      },
      Some(s"""WITH dt AS $sqlDocToks,
                 sg AS (SELECT doc_id,
                               CAST(len(toks) AS BIGINT) AS n_words,
                               CAST(length(array_to_string(toks, '')) AS BIGINT) AS sum_len,
                               CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
                               CAST(length(text) - length(replace(text, '#', ''))
                                    + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_sym,
                               CAST(len(list_intersect(list_distinct(toks),
                                    ['the','and','of','to','a'])) AS BIGINT) AS n_stop
                        FROM dt)
               SELECT doc_id, n_words, sum_len, n_alpha, n_sym, n_stop,
                      (n_words BETWEEN 50 AND 100000
                       AND sum_len >= n_words * 3 AND sum_len <= n_words * 10
                       AND n_sym * 10 <= n_words
                       AND n_alpha * 5 >= n_words * 4
                       AND n_stop >= 2) AS pass
               FROM sg ORDER BY doc_id""")),

    // BIGRAM LM FLUENCY — the KenLM-style perplexity filter of CCNet/DCLM,
    // in hash-gate-exact arithmetic: the corpus itself is the LM (bigram
    // conditional c₂(w₁,w₂)/c₁(w₁), where c₁ counts w₁ as a HISTORY, so
    // the model rows sum to 1 per history exactly), and a doc's fluency
    // is the mean conditional probability over its bigrams in integer ppm
    // (floor at both steps — no log/exp, the rational-idf convention:
    // libm ulp skew would break cross-engine hashing; monotone in the
    // geometric-mean ranking's place for filtering). Scale shape: one
    // w1-partitioned count aggregate and window build the model
    // ([[bigramModel]]); scoring is one equi-join on the bigram key — the
    // frequent-history skew of the w1 partitioning is the k01 salting
    // candidate if a real corpus ever hot-spots one word. Docs need ≥ 2
    // tokens to have a bigram at all.
    Q("t30_bigram_lm",
      (s, d) => {
        bigramModel(s, d)
          .groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"),
            sum(expr("c2 * 1000000L div c1")).as("s"))
          .select(col("doc_id"), col("n_bigrams"),
            expr("s div n_bigrams").cast(LongType).as("fluency_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH dt AS (SELECT doc_id,
                                 list_filter(string_split_regex(trim(text), '\s+'),
                                             x -> length(x) > 0) AS toks
                          FROM documents),
                 bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                        FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
                              FROM dt WHERE len(toks) >= 2)),
                 c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
                 c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
                 per AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                                SUM((c2.c2 * 1000000) // c1.c1) AS s
                         FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                         GROUP BY 1)
              SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                     CAST(s // n_bigrams AS BIGINT) AS fluency_ppm
              FROM per ORDER BY doc_id""")),

    // DSIR-STYLE TARGET AFFINITY — importance-resampling weights toward a
    // target domain (Xie et al.'s data-selection shape, integer-exact): a
    // token is target-leaning iff its relative frequency in the target
    // split (source 'src1') exceeds its corpus-wide relative frequency —
    // compared by cross-multiplication (f_t·D_c > f_c·D_t; no logs, no
    // floats), and a document's affinity is its leaning-token fraction in
    // ppm. Dataflow: one corpus scan into the (token, count) vocabulary
    // (O(vocab), the t25 move), a broadcastable 1-row totals artifact, one
    // vocab-sized join back to the exploded corpus, one per-doc aggregate
    // — everything map-side-combined, nothing pairwise. keep = the
    // majority-leaning resample rule.
    Q("t31_dsir_affinity",
      (s, d) => {
        val toks = tokenRows(t(s, d, "documents"), "doc_id", "source")
        // ONE vocab aggregate carries both frequencies (count_if replaces
        // the separate filtered agg), and the corpus totals roll up from
        // the vocab table (Σ fc ≡ corpus token count) — 2 passes over the
        // exploded corpus instead of 4 (r09)
        val fc = toks.groupBy("tok").agg(count(lit(1)).as("fc"),
          count_if(col("source") === "src1").as("ft"))
        val tot = fc.agg(sum(col("fc")).as("__dc"), sum(col("ft")).as("__dt"))
        val lean = fc
          .crossJoin(broadcast(tot))
          .select(col("tok"),
            (col("ft") * col("__dc") > col("fc") * col("__dt")).as("lean"))
        toks.join(lean, "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), count_if(col("lean")).as("n_lean"))
          .withColumn("lean_ppm", expr("1000000L * n_lean div n_tokens"))
          .withColumn("keep", col("lean_ppm") >= 500000L)
          .select("doc_id", "n_tokens", "n_lean", "lean_ppm", "keep")
          .orderBy("doc_id")
      },
      Some(s"""WITH tf AS ${sqlTokenRows("doc_id", "source")},
                 fc AS (SELECT tok, COUNT(*) AS fc FROM tf GROUP BY tok),
                 ft AS (SELECT tok, COUNT(*) AS ft FROM tf WHERE source = 'src1' GROUP BY tok),
                 tot AS (SELECT COUNT(*) AS dc,
                                CAST(COUNT(*) FILTER (source = 'src1') AS BIGINT) AS dt FROM tf),
                 lean AS (SELECT c.tok,
                                 COALESCE(t.ft, 0) * (SELECT dc FROM tot) >
                                   c.fc * (SELECT dt FROM tot) AS lean
                          FROM fc c LEFT JOIN ft t USING (tok)),
                 per AS (SELECT f.doc_id, COUNT(*) AS n_tokens,
                                CAST(COUNT(*) FILTER (l.lean) AS BIGINT) AS n_lean
                         FROM tf f JOIN lean l USING (tok) GROUP BY 1)
              SELECT doc_id, n_tokens, n_lean,
                     (1000000 * n_lean) // n_tokens AS lean_ppm,
                     (1000000 * n_lean) // n_tokens >= 500000 AS keep
              FROM per ORDER BY doc_id""")),

    // PIPELINE FUNNEL — per-stage attrition accounting for the p02
    // curation pipeline: how many documents survive each cumulative stage
    // (ingest → decontaminate → dedup → quality envelope). The report a
    // data-governance review asks for before the data card (p04); each
    // stage count is one aggregate over the same id-set intersections p02
    // applies, so the funnel provably reconciles with p02's output.
    // Bounded 4-row result.
    Q("p05_funnel_report",
      (s, d) => {
        // materialize the two id sets ONCE: the four funnel branches
        // would otherwise re-execute the d09/d07b sub-pipelines per
        // stage count (the groupedRunningTotal checkpoint convention)
        val deconIds = Catalog.byName("d09_decontaminate").build(s, d)
          .select("doc_id").localCheckpoint()
        val keptIds = Catalog.byName("d07b_dedup_apply_exact").build(s, d)
          .select("doc_id").localCheckpoint()
        val base = t(s, d, "documents").where(col("source") =!= "src0")
        val s2 = base.join(deconIds, "doc_id")
        val s3 = s2.join(keptIds, "doc_id")
        val s4 = qualitySignals(s3).where(qualityOk)
        def cnt(id: Int, nm: String, df: DataFrame) =
          df.agg(count(lit(1)).as("n_docs"))
            .select(lit(id).as("stage_id"), lit(nm).as("stage"), col("n_docs"))
        cnt(1, "ingested", base)
          .union(cnt(2, "decontaminated", s2))
          .union(cnt(3, "deduped", s3))
          .union(cnt(4, "quality_filtered", s4))
          .orderBy("stage_id")
      },
      Some(s"""WITH RECURSIVE ${DedupOps.sqlClusterCtes},
                 losers AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster),
                 ${DedupOps.sqlDecontCtes},
                 base AS (SELECT * FROM $sqlDocToks WHERE source <> 'src0'),
                 st2 AS (SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
                 st3 AS (SELECT * FROM st2 WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
                 st4 AS (SELECT * FROM st3 WHERE $sqlQualityOk)
               SELECT * FROM (
                 SELECT 1 AS stage_id, 'ingested' AS stage, COUNT(*) AS n_docs FROM base
                 UNION ALL SELECT 2, 'decontaminated', COUNT(*) FROM st2
                 UNION ALL SELECT 3, 'deduped', COUNT(*) FROM st3
                 UNION ALL SELECT 4, 'quality_filtered', COUNT(*) FROM st4)
               ORDER BY stage_id"""),
      bench = false),

    // TOKEN-BUDGET ALLOCATION — the data-recipe step after weighting:
    // split a fixed training-token budget across sources proportionally
    // to their token mass, with LARGEST-REMAINDER rounding so the integer
    // quotas sum to the budget EXACTLY (floor everyone, then +1 to the
    // largest remainders — deterministic tie-break on source). All
    // arithmetic is integer cross-multiplication; the allocation table is
    // ≤ |sources| rows, so its 1-row total is bounded by construction
    // (allowlisted — the c16 pattern) and the remainder ranking is a
    // ≤ |sources|-row collect, not a window without a partition.
    Q("t32_token_budget",
      (s, d) => {
        val B = 100000L
        val tk = t(s, d, "documents")
          .select(col("source"),
            size(filter(tokens(col("text")), x => length(x) > 0)).cast("long").as("n"))
          .groupBy("source").agg(sum("n").as("w"))
        val tot = tk.agg(sum("w").as("__W"))
        val base = tk.crossJoin(broadcast(tot))
          .withColumn("fl", expr(s"$B * w div __W"))
          .withColumn("rem", expr(s"($B * w) % __W"))
        val byRem = base.orderBy(desc("rem"), col("source")).select("source", "fl").collect()
        val extra = B - byRem.map(_.getLong(1)).sum
        val winners = byRem.take(extra.toInt).map(_.getString(0))
        base
          .withColumn("quota",
            col("fl") + when(col("source").isin(winners: _*), 1L).otherwise(0L))
          .select(col("source"), col("w").as("n_tokens"), col("quota"))
          .orderBy("source")
      },
      Some("""WITH tk AS (SELECT source,
                          CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
                                                   x -> length(x) > 0))) AS BIGINT) AS w
                          FROM documents GROUP BY source),
                 tot AS (SELECT CAST(SUM(w) AS BIGINT) AS W FROM tk),
                 base AS (SELECT source, w, (100000 * w) // (SELECT W FROM tot) AS fl,
                                 (100000 * w) % (SELECT W FROM tot) AS rem FROM tk),
                 r AS (SELECT CAST(100000 - SUM(fl) AS BIGINT) AS extra FROM base),
                 rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk FROM base)
              SELECT source, w AS n_tokens,
                     CAST(fl + CASE WHEN rnk <= (SELECT extra FROM r) THEN 1 ELSE 0 END AS BIGINT) AS quota
              FROM rk ORDER BY source""")),

    // DATA EXPECTATIONS — the deequ / Great-Expectations move: declared
    // constraints audited as exact violation counts, one report row per
    // check (key uniqueness, referential integrity, value ranges,
    // non-emptiness). Each check is a bounded aggregate or an anti-join
    // count — the same plans at any scale; the report unions six 1-row
    // results (the p05 bounded-report shape). Honesty note: the
    // lineitem (orderkey, linenumber) uniqueness check FAILS from sf0.01
    // up — a real fixture quirk (NOTES round 1) surfaced as a failing
    // expectation instead of silently worked around.
    Q("p06_data_expectations",
      (s, d) => {
        def row(name: String, violations: DataFrame) =
          violations.select(lit(name).as("check_name"), col("n_violations"),
            (col("n_violations") === 0L).as("pass"))
        val ord = t(s, d, "orders")
        val li = t(s, d, "lineitem")
        val pkUnique = ord.agg((count(lit(1)) - count_distinct(col("o_orderkey"))).as("n_violations"))
        val fkCust = ord.join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
        val qtyRange = li.agg(count_if(
          !(col("l_quantity") >= 1 && col("l_quantity") <= 50)).as("n_violations"))
        val lineUnique = li.agg((count(lit(1)) -
          count_distinct(col("l_orderkey"), col("l_linenumber"))).as("n_violations"))
        val textNonEmpty = t(s, d, "documents").agg(count_if(
          col("text").isNull || length(col("text")) === 0).as("n_violations"))
        val valueNonNeg = t(s, d, "events").agg(count_if(
          col("value") < 0).as("n_violations"))
        row("orders_pk_unique", pkUnique)
          .union(row("orders_fk_customer", fkCust))
          .union(row("lineitem_qty_in_1_50", qtyRange))
          .union(row("lineitem_line_unique", lineUnique))
          .union(row("documents_text_nonempty", textNonEmpty))
          .union(row("events_value_nonneg", valueNonNeg))
          .orderBy("check_name")
      },
      Some("""SELECT check_name, n_violations, n_violations = 0 AS pass FROM (
                SELECT 'orders_pk_unique' AS check_name,
                       COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations FROM orders
                UNION ALL
                SELECT 'orders_fk_customer', COUNT(*) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
                UNION ALL
                SELECT 'lineitem_qty_in_1_50',
                       CAST(COUNT(*) FILTER (NOT (l_quantity >= 1 AND l_quantity <= 50)) AS BIGINT)
                FROM lineitem
                UNION ALL
                SELECT 'lineitem_line_unique',
                       COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
                UNION ALL
                SELECT 'documents_text_nonempty',
                       CAST(COUNT(*) FILTER (text IS NULL OR length(text) = 0) AS BIGINT)
                FROM documents
                UNION ALL
                SELECT 'events_value_nonneg',
                       CAST(COUNT(*) FILTER (value < 0) AS BIGINT) FROM events)
              ORDER BY check_name""")),

    // SHARD MANIFEST — the artifact a training job actually consumes:
    // every document deterministically routed to a (split, shard) cell
    // (t21's hash split × an 8-way shard hash), each cell summarized by
    // doc count, exact token total, and an order-free content signature
    // (per-doc 60-bit md5 summed EXACTLY in DECIMAL(38,0), folded mod
    // 2⁶¹−1 — a shard re-materialized anywhere must reproduce its
    // signature bit-for-bit, and a single changed/dropped document
    // changes it). Scale shape: ONE map-side-combined aggregate over
    // map-only per-doc columns — the manifest is ≤ splits×shards rows no
    // matter the corpus; nothing is ordered, so no window, no funnel.
    // Summation (not xor) keeps duplicate documents visible in the
    // signature. All operands non-negative ⇒ DuckDB `%` == pmod.
    Q("p07_shard_manifest",
      (s, d) => {
        val h = docHash(col("doc_id"), 1000L)
        val fold = "2305843009213693951" // 2^61 - 1
        t(s, d, "documents")
          .select(
            when(h < 800, "train").when(h < 900, "val").otherwise("test").as("split"),
            docHash(col("doc_id"), 8L).as("shard"),
            size(tokens(col("text"))).cast(LongType).as("n_toks"),
            md5Sig60(col("text")).cast(DecimalType(38, 0)).as("sig"))
          .groupBy("split", "shard")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
            pmod(sum(col("sig")), lit(fold).cast(DecimalType(38, 0)))
              .cast(LongType).as("content_sig"))
          .orderBy("split", "shard")
      },
      Some(s"""WITH m AS (
                 SELECT CASE WHEN ${sqlDocHash("doc_id", 1000L)} < 800 THEN 'train'
                             WHEN ${sqlDocHash("doc_id", 1000L)} < 900 THEN 'val'
                             ELSE 'test' END AS split,
                        ${sqlDocHash("doc_id", 8L)} AS shard,
                        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
                        CAST(${sqlMd5Sig60("text")} AS HUGEINT) AS sig
                 FROM documents)
              SELECT split, CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
                     CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
                     CAST(SUM(sig) % 2305843009213693951 AS BIGINT) AS content_sig
              FROM m GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TOKEN DIVERSITY — lexical-richness signals per document, all in
    // exact ppm integers (no log(), no float accumulation): type-token
    // ratio, the Simpson repeat-probability Σcᵢ(cᵢ−1)/(n(n−1)) — the
    // probability two random token draws are the same type, the exact
    // complement of Shannon diversity that needs no transcendental — and
    // the top-token share. The trio separates template/spam pages (high
    // repeat, low TTR) from prose the way t11's n-gram repetition can't:
    // it is position-free, so shuffled boilerplate still scores high.
    // Scale shape: one (doc, token) count aggregate + one per-doc
    // aggregate, both map-side-combined; keys are corpus-cardinality.
    Q("t33_token_diversity",
      (s, d) => {
        val tc = t(s, d, "documents")
          .select(col("doc_id"),
            explode(filter(tokens(col("text")), x => length(x) > 0)).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        tc.groupBy("doc_id")
          .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
            sum(expr("c * (c - 1)")).as("rep2"), max("c").as("cmax"))
          .where(col("n_tokens") >= 2)
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            expr("1000000 * n_types div n_tokens").as("ttr_ppm"),
            expr("1000000 * rep2 div (n_tokens * (n_tokens - 1))").as("simpson_ppm"),
            expr("1000000 * cmax div n_tokens").as("top_share_ppm"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM ${sqlTokenRows("doc_id")} GROUP BY 1, 2),
                 per AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                                COUNT(*) AS n_types,
                                CAST(SUM(c * (c - 1)) AS BIGINT) AS rep2,
                                CAST(MAX(c) AS BIGINT) AS cmax
                         FROM tc GROUP BY 1)
              SELECT doc_id, n_tokens, n_types,
                     (1000000 * n_types) // n_tokens AS ttr_ppm,
                     (1000000 * rep2) // (n_tokens * (n_tokens - 1)) AS simpson_ppm,
                     (1000000 * cmax) // n_tokens AS top_share_ppm
              FROM per WHERE n_tokens >= 2 ORDER BY doc_id""")),

    // CURATION DRIFT — does dedup silently change WHAT the corpus is made
    // of? Per-source composition before vs after first-occurrence exact
    // dedup ([[dedupKeep]], d01's keep rule), with shares and their shift in
    // exact ppm integers. Dedup removes duplicates unevenly across
    // sources — a crawl slice that syndicates heavily shrinks more — so a
    // recipe tuned on pre-dedup shares trains on a different mix than
    // intended; this is the report that catches it before t09/t14
    // re-weighting. Scale shape: one content-digest aggregate + a
    // min-id semi-join + two bounded per-source aggregates; the 1-row
    // totals crossJoin back (the c16/t14 bounded-normalizer pattern).
    Q("p08_curation_drift",
      (s, d) => {
        val docs = t(s, d, "documents")
        val v2 = docs.join(dedupKeep(docs), "doc_id")
        val before = docs.groupBy("source").agg(count(lit(1)).as("n_before"))
        val after = v2.groupBy("source").agg(count(lit(1)).as("n_after"))
        val t1 = docs.agg(count(lit(1)).as("t1"))
        val t2 = v2.agg(count(lit(1)).as("t2"))
        before.join(after, Seq("source"), "left")
          .crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
          .select(col("source"), col("n_before"),
            coalesce(col("n_after"), lit(0L)).as("n_after"),
            expr("1000000 * n_before div t1").as("share_before_ppm"),
            expr("1000000 * coalesce(n_after, 0L) div t2").as("share_after_ppm"),
            abs(expr("1000000 * coalesce(n_after, 0L) div t2") -
              expr("1000000 * n_before div t1")).as("drift_ppm"))
          .orderBy("source")
      },
      Some(s"""WITH k AS ${sqlDedupKeep("documents")},
                 v2 AS (SELECT d.source FROM documents d JOIN k USING (doc_id)),
                 b AS (SELECT source, COUNT(*) AS n_before FROM documents GROUP BY 1),
                 a AS (SELECT source, COUNT(*) AS n_after FROM v2 GROUP BY 1),
                 tb AS (SELECT COUNT(*) AS t1 FROM documents),
                 ta AS (SELECT COUNT(*) AS t2 FROM v2)
              SELECT b.source, b.n_before, COALESCE(a.n_after, 0) AS n_after,
                     (1000000 * b.n_before) // (SELECT t1 FROM tb) AS share_before_ppm,
                     (1000000 * COALESCE(a.n_after, 0)) // (SELECT t2 FROM ta) AS share_after_ppm,
                     ABS((1000000 * COALESCE(a.n_after, 0)) // (SELECT t2 FROM ta)
                         - (1000000 * b.n_before) // (SELECT t1 FROM tb)) AS drift_ppm
              FROM b LEFT JOIN a USING (source) ORDER BY source"""),
      bench = false),

    // QUALITY-THRESHOLD SWEEP — d22's ablation pendant on the FILTER side:
    // at each minimum-length cut (10/20/50/100 tokens), how many documents
    // and tokens survive and what corpus share that is (exact ppm — the
    // number read before pinning t06's threshold: too high starves the
    // corpus, too low ships fragments). Scale shape: ONE documents pass
    // computes token counts, the 4-way cut fan-out is a bounded explode
    // (×|cuts| rows of two longs, not of text), and each cut's totals are
    // one map-side-combined aggregate; the corpus totals are the 1-row
    // broadcast normalizer (the t15/c16 pattern, allowlisted). No
    // driver-side loop: all cuts reduce in a single distributed aggregate.
    Q("p09_quality_sweep",
      (s, d) => {
        val nt = t(s, d, "documents")
          .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_toks"))
        val tot = nt.agg(count(lit(1)).as("__docs"), sum("n_toks").as("__toks"))
        nt.crossJoin(broadcast(tot))
          .select(col("n_toks"), col("__docs"), col("__toks"),
            explode(array(lit(10L), lit(20L), lit(50L), lit(100L))).as("min_toks"))
          .where(col("n_toks") >= col("min_toks"))
          .groupBy("min_toks", "__docs", "__toks")
          .agg(count(lit(1)).as("n_docs_kept"), sum("n_toks").as("n_tokens_kept"))
          .select(col("min_toks"), col("n_docs_kept"), col("n_tokens_kept"),
            expr("n_docs_kept * 1000000 div __docs").as("doc_share_ppm"),
            expr("n_tokens_kept * 1000000 div __toks").as("tok_share_ppm"))
          .orderBy("min_toks")
      },
      Some("""WITH nt AS (SELECT doc_id,
                                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
                          FROM documents),
                 tot AS (SELECT COUNT(*) AS docs, CAST(SUM(n_toks) AS BIGINT) AS toks FROM nt),
                 sw AS (SELECT c.min_toks, COUNT(*) AS n_docs_kept,
                               CAST(SUM(n_toks) AS BIGINT) AS n_tokens_kept
                        FROM nt, (SELECT UNNEST([10, 20, 50, 100]) AS min_toks) c
                        WHERE nt.n_toks >= c.min_toks
                        GROUP BY 1)
              SELECT CAST(min_toks AS BIGINT) AS min_toks, n_docs_kept, n_tokens_kept,
                     n_docs_kept * 1000000 // (SELECT docs FROM tot) AS doc_share_ppm,
                     n_tokens_kept * 1000000 // (SELECT toks FROM tot) AS tok_share_ppm
              FROM sw ORDER BY min_toks"""),
      bench = false),

    // REPRODUCIBILITY MANIFEST — the run certificate a pipeline owner
    // files with every corpus release: per curation stage (raw → exact
    // dedup → decontaminated → quality), the surviving doc count and an
    // ORDER-FREE content checksum (Σ over kept docs of the 60-bit md5
    // prefix, summed in exact DECIMAL(38,0) — commutative, so shard
    // layout, retry order, and partitioning cannot change it; the sim05
    // engine-exactness convention). Two runs of the pipeline match iff
    // their manifests match, which makes silent divergence (a changed
    // threshold, a dropped shard) a one-row diff instead of a forensic
    // hunt. Stage predicates are the catalog's own (p08 dedup keep, d09
    // contamination, t06 quality envelope), so the manifest certifies THE
    // shipped pipeline, not a parallel reimplementation.
    Q("p10_repro_manifest",
      (s, d) => {
        val docs = t(s, d, "documents")
        val sig = docs.select(col("doc_id"), md5Sig60(col("text")).cast(LongType).as("sg"))
          .localCheckpoint()
        val keep = dedupKeep(docs)
        val decont = keep.join(DedupOps.contaminatedIds(s, d), Seq("doc_id"), "left_anti")
          .localCheckpoint()
        val quality = qualitySignals(docs).where(qualityOk).select("doc_id")
        def stage(ord: Int, name: String, ids: DataFrame) =
          ids.join(sig, "doc_id")
            .agg(count(lit(1)).as("n_docs"),
              // read out as digits: exact at any corpus size (a double
              // cast would round above 2^53 — identically, but why round)
              sum(col("sg").cast(DecimalType(38, 0))).cast(StringType).as("checksum"))
            .select(lit(ord).as("stage"), lit(name).as("stage_name"),
              col("n_docs"), col("checksum"))
        stage(1, "raw", docs.select("doc_id"))
          .unionByName(stage(2, "exact_dedup", keep))
          .unionByName(stage(3, "decontaminated", decont))
          .unionByName(stage(4, "quality", decont.join(quality, "doc_id")))
          .orderBy("stage")
      },
      Some(s"""WITH sig AS (SELECT doc_id, ${sqlMd5Sig60("text")} AS sg FROM documents),
                 keep AS ${sqlDedupKeep("documents")},
                 ${DedupOps.sqlDecontCtes},
                 dc AS (SELECT doc_id FROM keep
                        WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
                 ql AS (SELECT doc_id FROM $sqlDocToks WHERE $sqlQualityOk),
                 m AS (
                   SELECT 1 AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs, SUM(sg) AS checksum
                   FROM sig
                   UNION ALL
                   SELECT 2, 'exact_dedup', COUNT(*), SUM(sg)
                   FROM keep JOIN sig USING (doc_id)
                   UNION ALL
                   SELECT 3, 'decontaminated', COUNT(*), SUM(sg)
                   FROM dc JOIN sig USING (doc_id)
                   UNION ALL
                   SELECT 4, 'quality', COUNT(*), SUM(sg)
                   FROM dc JOIN ql USING (doc_id) JOIN sig USING (doc_id))
              SELECT stage, stage_name, n_docs,
                     CAST(checksum AS VARCHAR) AS checksum
              FROM m ORDER BY stage"""),
      bench = false),

    // VALIDATION QUARANTINE — the dead-letter split every ingest pipeline
    // runs before anything downstream trusts the data: each event is
    // checked against a battery (value cap, JSON-field range, timestamp
    // window), rows failing ANY check are quarantined, and the report
    // counts each reason separately (reasons overlap, so Σ reasons ≥
    // quarantined). One map-only pass + one aggregate — the checks are
    // codegen'd conditionals, never a per-rule scan. The ts-window check
    // passes everywhere on this fixture (count 0) — kept as the negative
    // control proving the battery CAN pass. get_json_object mirrors
    // DuckDB's json_extract on the same stored string.
    Q("p11_quarantine",
      (s, d) => t(s, d, "events")
        .select(
          (col("value") > 150.0).as("r_cap"),
          (get_json_object(col("props"), "$.k").cast(LongType) > 90L).as("r_k"),
          (col("ts") < lit("2024-01-01").cast(TimestampType) ||
            col("ts") >= lit("2024-03-01").cast(TimestampType)).as("r_ts"))
        .agg(
          sum(when(col("r_cap"), 1L).otherwise(0L)).as("n_value_above_cap"),
          sum(when(col("r_k"), 1L).otherwise(0L)).as("n_k_out_of_range"),
          sum(when(col("r_ts"), 1L).otherwise(0L)).as("n_ts_out_of_window"),
          sum(when(col("r_cap") || col("r_k") || col("r_ts"), 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(!(col("r_cap") || col("r_k") || col("r_ts")), 1L).otherwise(0L))
            .as("n_passed")),
      Some("""WITH checks AS (
                 SELECT value > 150.0 AS r_cap,
                        CAST(json_extract_string(props, '$.k') AS BIGINT) > 90 AS r_k,
                        ts < TIMESTAMP '2024-01-01' OR ts >= TIMESTAMP '2024-03-01' AS r_ts
                 FROM events)
              SELECT CAST(SUM(CASE WHEN r_cap THEN 1 ELSE 0 END) AS BIGINT) AS n_value_above_cap,
                     CAST(SUM(CASE WHEN r_k THEN 1 ELSE 0 END) AS BIGINT) AS n_k_out_of_range,
                     CAST(SUM(CASE WHEN r_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_out_of_window,
                     CAST(SUM(CASE WHEN r_cap OR r_k OR r_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
                     CAST(SUM(CASE WHEN NOT (r_cap OR r_k OR r_ts) THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
              FROM checks"""),
      bench = false),

    // SOURCE VOCABULARY-OVERLAP MATRIX — the corpus-composition diagnostic
    // d13's doc-level leakage cannot see: how much of their WORD STOCK two
    // sources share (Jaccard of vocabularies, exact ppm). Near-identical
    // vocabularies mean two "sources" are really one register (and their
    // mix weights double-count); a disjoint one flags a domain outlier.
    // Scale shape: the vocabulary is one (source, token) DISTINCT; the
    // pair space is a bucketed equi-join ON THE TOKEN (the d02 move), so
    // a token contributes at most sources²/2 pairs — bounded by the
    // source-count constant, never corpus size; sizes broadcast back.
    Q("t34_source_vocab_overlap",
      (s, d) => {
        val vt = tokenRows(t(s, d, "documents"), "source").distinct()
        val sizes = vt.groupBy("source").agg(count(lit(1)).as("nv"))
        val inter = vt.select(col("source").as("sa"), col("tok"))
          .join(vt.select(col("source").as("sb"), col("tok")), "tok")
          .where(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.select(col("source").as("sa"), col("nv").as("na"))), "sa")
          .join(broadcast(sizes.select(col("source").as("sb"), col("nv").as("nb"))), "sb")
          .select(col("sa"), col("sb"), col("inter"), col("na"), col("nb"),
            expr("inter * 1000000 div (na + nb - inter)").as("jaccard_ppm"))
          .orderBy("sa", "sb")
      },
      Some(s"""WITH vt AS (SELECT DISTINCT source, tok FROM ${sqlTokenRows("source")}),
                 sz AS (SELECT source, COUNT(*) AS nv FROM vt GROUP BY 1),
                 iv AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS inter
                        FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source
                        GROUP BY 1, 2)
              SELECT sa, sb, inter, na.nv AS na, nb.nv AS nb,
                     inter * 1000000 // (na.nv + nb.nv - inter) AS jaccard_ppm
              FROM iv JOIN sz na ON na.source = iv.sa
                      JOIN sz nb ON nb.source = iv.sb
              ORDER BY sa, sb"""),
      bench = false),

    // RAG CHUNKING — the retrieval-side document shaping every
    // embedding/RAG pipeline runs before sim-family indexing: fixed
    // 64-token windows at stride 48 (16-token overlap so no boundary
    // sentence is lost to both neighbors), each chunk carrying its
    // provenance (doc_id, chunk_id, start token offset). A pure map-only
    // projection — explode over ⌈n/stride⌉ window starts, slice, rejoin —
    // no shuffle at any corpus size beyond the deterministic output sort.
    // The windowing law: every token position is covered by ≥ 1 chunk and
    // consecutive chunks overlap by exactly 16 positions (interior), both
    // pinned by the oracle replay.
    Q("t35_rag_chunks",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("toks"), chunkIds)
        .withColumn("start_tok", col("chunk_id") * ChunkStride)
        .withColumn("chunk", slice(col("toks"), col("start_tok") + 1, lit(64)))
        .select(col("doc_id"), col("chunk_id").cast(IntegerType).as("chunk_id"),
          col("start_tok").cast(IntegerType).as("start_tok"),
          size(col("chunk")).as("n_chunk_toks"),
          array_join(col("chunk"), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH ch AS (SELECT doc_id, toks, CAST(w.i AS INT) AS chunk_id
                        FROM $sqlDocToks, ${sqlChunkIds("len(toks)")}),
                 sl AS (SELECT doc_id, chunk_id, CAST(chunk_id * 48 AS INT) AS start_tok,
                               toks[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS chunk
                        FROM ch)
              SELECT doc_id, chunk_id, start_tok,
                     CAST(len(chunk) AS INT) AS n_chunk_toks,
                     array_to_string(chunk, ' ') AS chunk_text
              FROM sl ORDER BY doc_id, chunk_id"""),
      bench = false),

    // DELETION PROPAGATION — the right-to-be-forgotten sweep every
    // training-data owner must be able to run: a deletion list (~5% of
    // doc_ids via the deterministic docHash selector) propagates through
    // every derived artifact — the documents themselves, the t35 RAG
    // chunks keyed by doc_id, the aligned embeddings table, and the p08
    // dedup keep-list. The keep-list is the trap this report pins: when a
    // deleted doc was the elected representative (min doc_id) of a
    // duplicate cluster, the cluster must RE-ELECT a surviving member —
    // dropping the whole cluster would silently delete innocent documents.
    // `n_reelected` counts those re-elections, and the per-artifact
    // conservation law (before − deleted + reelected = after) is
    // require()d in-query, so a propagation bug fails the build, not an
    // audit. Each artifact's survivors carry an ORDER-FREE checksum (Σ
    // 60-bit md5 prefix of the row key in exact decimal — the p10
    // manifest convention), so two deletion runs are comparable as one
    // 4-row diff. Scale shape: the deletion list is a pushed-down
    // predicate (never a driver-side collect), every propagation is an
    // equi-join or left_anti on the artifact key, and the re-election is
    // one extra digest aggregate over the survivor side.
    Q("p12_deletion_propagation",
      (s, d) => {
        val docs = t(s, d, "documents")
        val delPred = docHash(col("doc_id"), 20) === 0
        val sigOf = (k: Column) => md5Sig60(k.cast(StringType)).cast(LongType)
        def report(ord: Int, name: String, before: DataFrame, after: DataFrame,
            key: Column, reelected: Long = 0L) = {
          val b = before.agg(count(lit(1)).as("n_before"))
          val a = after.agg(count(lit(1)).as("n_after"),
            sum(sigOf(key).cast(DecimalType(38, 0))).cast(StringType).as("checksum_after"))
          b.crossJoin(broadcast(a)).select(lit(ord).as("ord"), lit(name).as("artifact"),
            col("n_before"),
            (col("n_before") - col("n_after") + lit(reelected)).as("n_deleted"),
            col("n_after"), lit(reelected).as("n_reelected"), col("checksum_after"))
        }
        val survivors = docs.where(!delPred)
        val chunkKeys = (df: DataFrame) => df
          .select(col("doc_id"), size(tokens(col("text"))).as("n"))
          .select(col("doc_id"), chunkIds)
          .select(concat_ws(":", col("doc_id"), col("chunk_id")).as("ck"))
        val embs = t(s, d, "embeddings")
        val keepBefore = dedupKeep(docs).localCheckpoint()
        val keepAfter = dedupKeep(survivors).localCheckpoint()
        // re-elections: clusters whose representative changed (new id
        // appears in the after-list only). A bounded count: ≤ |deletions|.
        val nReelected = keepAfter.join(keepBefore, Seq("doc_id"), "left_anti").count()
        val out = report(1, "documents", docs, survivors, col("doc_id"))
          .unionByName(report(2, "chunks", chunkKeys(docs), chunkKeys(survivors), col("ck")))
          .unionByName(report(3, "embeddings", embs,
            embs.where(!(docHash(col("vec_id"), 20) === 0)), col("vec_id")))
          .unionByName(report(4, "dedup_keep", keepBefore, keepAfter, col("doc_id"),
            nReelected))
          .orderBy("ord")
        // Non-vacuous propagation law: the bookkeeping n_deleted
        // (before − after + reelected) must equal the DIRECT selector-side
        // counts — deleted docs, the chunks those docs owned, the aligned
        // embeddings, and the keep-list representatives that were deleted.
        // Two independent computations of the same quantity: a drift in
        // chunk windowing, id alignment, or re-election fails here.
        val expect = Map(
          1 -> docs.where(delPred).count(),
          2 -> chunkKeys(docs.where(delPred)).count(),
          3 -> embs.where(docHash(col("vec_id"), 20) === 0).count(),
          4 -> keepBefore.join(docs.where(delPred).select("doc_id"), Seq("doc_id"),
            "left_semi").count())
        val got = out.select("ord", "n_deleted").collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        require(got == expect,
          s"deletion propagation drift: derived=$got selector-side=$expect")
        out
      },
      Some {
        def chunkKeys(from: String) =
          s"""(SELECT d.doc_id || ':' || w.i AS ck
               FROM (SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n FROM $from) d,
                    ${sqlChunkIds("n")})"""
        def sig(x: String) = s"SUM(${sqlMd5Sig60(x)})"
        s"""WITH dels AS (SELECT doc_id FROM documents
                             WHERE ${sqlDocHash("doc_id", 20)} = 0),
                 surv AS (SELECT * FROM documents
                          WHERE doc_id NOT IN (SELECT doc_id FROM dels)),
                 cb AS ${chunkKeys("documents")},
                 ca AS ${chunkKeys("surv")},
                 kb AS ${sqlDedupKeep("documents")},
                 ka AS ${sqlDedupKeep("surv")},
                 re AS (SELECT COUNT(*) AS n FROM ka
                        WHERE doc_id NOT IN (SELECT doc_id FROM kb)),
                 m AS (
                   SELECT 1 AS ord, 'documents' AS artifact,
                          (SELECT COUNT(*) FROM documents) AS n_before,
                          (SELECT COUNT(*) FROM documents) - COUNT(*) AS n_deleted,
                          COUNT(*) AS n_after, 0 AS n_reelected,
                          ${sig("CAST(doc_id AS VARCHAR)")} AS checksum_after
                   FROM surv
                   UNION ALL
                   SELECT 2, 'chunks',
                          (SELECT COUNT(*) FROM cb),
                          (SELECT COUNT(*) FROM cb) - COUNT(*),
                          COUNT(*), 0,
                          ${sig("ck")}
                   FROM ca
                   UNION ALL
                   SELECT 3, 'embeddings',
                          (SELECT COUNT(*) FROM embeddings),
                          (SELECT COUNT(*) FROM embeddings) - COUNT(*),
                          COUNT(*), 0,
                          ${sig("CAST(vec_id AS VARCHAR)")}
                   FROM embeddings WHERE NOT ${sqlDocHash("vec_id", 20)} = 0
                   UNION ALL
                   SELECT 4, 'dedup_keep',
                          (SELECT COUNT(*) FROM kb),
                          (SELECT COUNT(*) FROM kb) - COUNT(*) + (SELECT n FROM re),
                          COUNT(*), (SELECT n FROM re),
                          ${sig("CAST(doc_id AS VARCHAR)")}
                   FROM ka)
              SELECT ord, artifact, n_before, n_deleted, n_after,
                     CAST(n_reelected AS BIGINT) AS n_reelected,
                     CAST(checksum_after AS VARCHAR) AS checksum_after
              FROM m ORDER BY ord"""
      },
      bench = false),

    // VOCABULARY GROWTH (Heaps' law) — per source, the cumulative
    // (tokens-seen, distinct-types-seen) curve in ingestion (doc_id)
    // order: the sub-linear type growth V ≈ K·n^β that tells a pipeline
    // owner whether a source keeps contributing NEW vocabulary (worth
    // ingesting more of) or has saturated (β→0: more tokens, same types —
    // t34's overlap matrix says who duplicates whom; this says when one
    // source starts duplicating itself). Scale shape: a token's first
    // occurrence is ONE (source, token) aggregate — never a sort or a
    // per-token window — and both cumulative sums ride the two-phase
    // groupedRunningTotal (range partition → per-partition sums →
    // broadcast offsets), so no global-order window funnel exists at any
    // corpus size.
    Q("t36_vocab_growth",
      (s, d) => {
        val tk = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            explode(filter(tokens(col("text")), x => length(x) > 0)).as("tok"))
        val perDoc = tk.groupBy("doc_id", "source").agg(count(lit(1)).as("n_toks"))
        val firsts = tk.groupBy("source", "tok").agg(min("doc_id").as("doc_id"))
        val newTypes = firsts.groupBy("doc_id", "source").agg(count(lit(1)).as("n_new"))
        val j = perDoc.join(newTypes, Seq("doc_id", "source"), "left")
          .select(col("doc_id"), col("source"), col("n_toks"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
        val withToks = StockOps.groupedRunningTotal(j, "source", "doc_id", "n_toks", "cum_toks")
        val withTypes = StockOps.groupedRunningTotal(withToks, "source", "doc_id", "n_new", "cum_types")
        withTypes.select("doc_id", "source", "cum_toks", "cum_types").orderBy("doc_id")
      },
      Some(s"""WITH tk AS ${sqlTokenRows("doc_id", "source")},
                 perdoc AS (SELECT doc_id, source, COUNT(*) AS n_toks FROM tk GROUP BY 1, 2),
                 firsts AS (SELECT source, tok, MIN(doc_id) AS doc_id FROM tk GROUP BY 1, 2),
                 newt AS (SELECT doc_id, source, COUNT(*) AS n_new FROM firsts GROUP BY 1, 2),
                 j AS (SELECT p.doc_id, p.source, p.n_toks, COALESCE(n.n_new, 0) AS n_new
                       FROM perdoc p LEFT JOIN newt n USING (doc_id, source))
              SELECT doc_id, source,
                     CAST(SUM(n_toks) OVER w AS BIGINT) AS cum_toks,
                     CAST(SUM(n_new) OVER w AS BIGINT) AS cum_types
              FROM j
              WINDOW w AS (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              ORDER BY doc_id"""),
      bench = false),

    // LEAKAGE-SAFE SPLIT — t21 splits by per-DOCUMENT hash, which lets the
    // two halves of a near-duplicate pair land in different splits: the
    // test set then contains paraphrases of training documents and every
    // eval number is inflated (train/test contamination, the d09 problem
    // created by the splitter itself). The fix is GROUP-AWARE splitting:
    // hash the near-dup CLUSTER label (d06's, singletons label themselves)
    // so a cluster moves as a unit. Both schemes are scored by the same
    // leakage metric — verified near-dup pairs straddling the split — and
    // the two laws are require()d in-build: the naive split must actually
    // leak on this corpus (non-vacuity) and the cluster-aware split must
    // leak ZERO pairs (by construction: both pair ends share a label).
    // Scale shape: labeling is one broadcast-able left join against the
    // (tiny relative to corpus) cluster table; leakage scoring joins the
    // pair table to the split map twice — all equi-joins.
    Q("t37_leakage_safe_split",
      (s, d) => {
        val docs = t(s, d, "documents").select("doc_id")
        val clusters = Catalog.byName("d06_dedup_clusters").build(s, d).localCheckpoint()
        val pairs = Catalog.byName("d03_minhash_lsh").build(s, d).select("da", "db").localCheckpoint()
        val labeled = docs.join(clusters, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("label"))
          .localCheckpoint()
        def splitOf(c: Column) = when(docHash(c, 10L) < 8, "train").otherwise("test")
        val naive = labeled.select(col("doc_id"), splitOf(col("doc_id")).as("split"))
        val aware = labeled.select(col("doc_id"), splitOf(col("label")).as("split"))
        def leak(sp: DataFrame): Long = pairs
          .join(sp.select(col("doc_id").as("da"), col("split").as("sa")), "da")
          .join(sp.select(col("doc_id").as("db"), col("split").as("sb")), "db")
          .where(col("sa") =!= col("sb")).count()
        def counts(sp: DataFrame): (Long, Long) =
          (sp.where(col("split") === "train").count(), sp.where(col("split") === "test").count())
        val (nt, ns) = counts(naive); val leakN = leak(naive)
        val (at, as_) = counts(aware); val leakA = leak(aware)
        require(leakN > 0,
          "naive per-document split leaks no near-dup pair — the comparison is vacuous")
        require(leakA == 0,
          "cluster-aware split leaked a near-dup pair — both ends share a label, impossible")
        import s.implicits._
        Seq(("cluster_aware", at, as_, leakA), ("naive_doc_hash", nt, ns, leakN))
          .toDF("scheme", "n_train", "n_test", "n_leak_pairs")
          .orderBy("scheme")
      },
      Some(s"""WITH RECURSIVE ${DedupOps.sqlLshClusterCtes},
                 lab AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS label
                         FROM documents d LEFT JOIN lclusters c USING (doc_id)),
                 nsp AS (SELECT doc_id,
                                CASE WHEN ${sqlDocHash("doc_id", 10L)} < 8
                                     THEN 'train' ELSE 'test' END AS split
                         FROM documents),
                 csp AS (SELECT doc_id,
                                CASE WHEN ${sqlDocHash("label", 10L)} < 8
                                     THEN 'train' ELSE 'test' END AS split
                         FROM lab),
                 nleak AS (SELECT COUNT(*) AS n FROM lshpairs p
                           JOIN nsp a ON a.doc_id = p.da JOIN nsp b ON b.doc_id = p.db
                           WHERE a.split <> b.split),
                 cleak AS (SELECT COUNT(*) AS n FROM lshpairs p
                           JOIN csp a ON a.doc_id = p.da JOIN csp b ON b.doc_id = p.db
                           WHERE a.split <> b.split)
               SELECT 'cluster_aware' AS scheme,
                      (SELECT COUNT(*) FROM csp WHERE split = 'train') AS n_train,
                      (SELECT COUNT(*) FROM csp WHERE split = 'test') AS n_test,
                      (SELECT n FROM cleak) AS n_leak_pairs
               UNION ALL
               SELECT 'naive_doc_hash',
                      (SELECT COUNT(*) FROM nsp WHERE split = 'train'),
                      (SELECT COUNT(*) FROM nsp WHERE split = 'test'),
                      (SELECT n FROM nleak)
               ORDER BY scheme"""),
      bench = false),

    // BIGRAM SURPRISAL — the GEOMETRIC-mean side of the perplexity filter
    // (t30's fluency_ppm is the arithmetic mean of p(w₂|w₁); perplexity
    // proper is 2^(mean surprisal), a geometric quantity). Logs are not
    // hash-exact across engines, so the surprisal of a bigram is priced
    // in integer BIT LENGTHS: bits(c₁) − bits(c₂) = ⌈log₂⌉-grade
    // approximation of −log₂ p(w₂|w₁), exact when both counts are powers
    // of two and within 1 bit otherwise — monotone enough to rank and
    // threshold documents, and bit-for-bit reproducible (both engines'
    // bin() render minimal binary, no padding — pinned here). Emitted
    // per-doc: bigram count, total surprisal bits, centibits/bigram (the
    // rank key). Same bigram model and join as t30 — the model build is
    // O(vocab²) bounded, scoring is linear in corpus size.
    Q("t38_bigram_surprisal",
      (s, d) => {
        bigramModel(s, d)
          .groupBy("doc_id").agg(count(lit(1)).as("n_bigrams"),
            sum((length(bin(col("c1"))) - length(bin(col("c2")))).cast(LongType))
              .as("total_bits"))
          .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
            expr("total_bits * 100 div n_bigrams").cast(LongType).as("centibits"))
          .orderBy("doc_id")
      },
      Some("""WITH dt AS (SELECT doc_id,
                                 list_filter(string_split_regex(trim(text), '\s+'),
                                             x -> length(x) > 0) AS toks
                          FROM documents),
                 bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                        FROM (SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
                              FROM dt WHERE len(toks) >= 2)),
                 c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
                 c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
                 per AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                                SUM(length(bin(c1.c1)) - length(bin(c2.c2))) AS total_bits
                         FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
                         GROUP BY 1)
              SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                     CAST(total_bits AS BIGINT) AS total_bits,
                     CAST(total_bits * 100 // n_bigrams AS BIGINT) AS centibits
              FROM per ORDER BY doc_id"""))
  )
}
