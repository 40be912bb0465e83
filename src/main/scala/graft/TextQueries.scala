package graft

import org.apache.spark.sql.functions._
import graft.text.HeavyHitters
import graft.text.TextFunctions._

/** Text-analysis queries over the documents table (SURVEY.md §2.H): the
  * per-document statistics a 100 TB training-data pipeline computes as
  * its first pass — token counts, quality scores, language ID, content
  * fingerprints. All narrow per-row projections; no shuffles.
  */
object TextQueries {

  /** Token counting: token / char counts and mean token length, all via
    * integer length arithmetic on the canonical single-spaced form (so
    * both engines derive identical doubles).
    */
  val t01 = QueryDef(
    "t01_token_stats",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val norm = normText(col("text"))
      val toks = tokens(col("text"))
      d.select(
        col("doc_id"),
        col("n_chars"),
        length(col("text")).as("raw_len"),
        size(toks).as("n_tokens"),
        ((length(norm) - (size(toks) - 1)) / size(toks)).as("avg_token_len"))
    },
    Some("""
      SELECT doc_id, n_chars,
        CAST(length(text) AS INTEGER) AS raw_len,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        (length(norm) - (len(toks) - 1)) * 1.0 / len(toks) AS avg_token_len
      FROM (
        SELECT doc_id, n_chars, text,
          regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
          string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        FROM documents)
    """.stripMargin.trim))

  /** Quality scoring: stopword ratio, non-alphanumeric ratio, and a
    * composite score — the heuristics corpus filters (C4-style) apply
    * before training. Ratios are int/int divisions → engine-portable
    * doubles.
    */
  val t02 = QueryDef(
    "t02_quality_score",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val norm = normText(col("text"))
      val toks = tokens(col("text"))
      val stopHits = hitCount(toks, Seq("the", "a", "of", "and", "is", "to", "in"))
      val punct = length(norm) - length(regexp_replace(norm, "[^a-z0-9 ]", ""))
      d.select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        stopHits.as("stop_hits"),
        (stopHits / size(toks)).as("stopword_ratio"),
        (punct / length(norm)).as("punct_ratio"),
        ((stopHits / size(toks)) * lit(2.0)
          - (punct / length(norm)) * lit(5.0)
          + when(size(toks) >= 20 && size(toks) <= 1000, 1.0).otherwise(0.0))
          .as("quality_score"))
    },
    Some("""
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_tokens,
        CAST(stop_hits AS INTEGER) AS stop_hits,
        stop_hits * 1.0 / len(toks) AS stopword_ratio,
        punct * 1.0 / length(norm) AS punct_ratio,
        (stop_hits * 1.0 / len(toks)) * 2.0
          - (punct * 1.0 / length(norm)) * 5.0
          + CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
          AS quality_score
      FROM (
        SELECT doc_id, norm, toks,
          len(list_filter(toks, t -> t IN ('the','a','of','and','is','to','in'))) AS stop_hits,
          length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS punct
        FROM (
          SELECT doc_id,
            regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
          FROM documents))
    """.stripMargin.trim))

  /** Language ID: score each candidate language by stopword hits and
    * take the argmax with a fixed priority tie-break — the cheap
    * first-pass lang filter of a web-scale corpus pipeline.
    */
  val t03: QueryDef = {
    val langs = graft.text.TextFunctions.langStopwords
    QueryDef(
      "t03_language_id",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val toks = tokens(col("text"))
        val scored = d.select(
          (col("doc_id") +: col("lang").as("labelled_lang") +:
            langs.map { case (l, ws) => hitCount(toks, ws).as(s"score_$l") }): _*)
        val pred = langs.map(_._1).foldRight(lit("und")) { (l, els) =>
          val mine = col(s"score_$l")
          val beatsRest = langs.map(_._1).filter(_ != l)
            .map(o => mine >= col(s"score_$o")).reduce(_ && _)
          when(mine > 0 && beatsRest, lit(l)).otherwise(els)
        }
        scored.withColumn("predicted_lang", pred)
      },
      Some {
        val scoreExprs = langs.map { case (l, ws) =>
          s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS score_$l"
        }.mkString(",\n          ")
        val pred = langs.map(_._1).foldRight("'und'") { (l, els) =>
          val beats = langs.map(_._1).filter(_ != l)
            .map(o => s"score_$l >= score_$o").mkString(" AND ")
          s"CASE WHEN score_$l > 0 AND $beats THEN '$l' ELSE $els END"
        }
        s"""
        SELECT doc_id, labelled_lang,
          CAST(score_en AS INTEGER) AS score_en, CAST(score_de AS INTEGER) AS score_de,
          CAST(score_es AS INTEGER) AS score_es, CAST(score_fr AS INTEGER) AS score_fr,
          $pred AS predicted_lang
        FROM (
          SELECT doc_id, lang AS labelled_lang,
          $scoreExprs
          FROM (
            SELECT doc_id, lang,
              string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
            FROM documents))
        """.stripMargin.trim
      })
  }

  /** Document fingerprinting: md5 content fingerprint plus its 60-bit
    * integer prefix (the cheap shuffle/bucket key used by exact dedup).
    */
  val t04 = QueryDef(
    "t04_fingerprint",
    (s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        fingerprint(col("text")).as("fingerprint"),
        fingerprint60(col("text")).as("fingerprint60"))
    },
    Some("""
      SELECT doc_id, fp AS fingerprint,
        ('0x' || substr(fp, 1, 15))::BIGINT AS fingerprint60
      FROM (
        SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents)
    """.stripMargin.trim))

  /** BPE-ish token counting: a GPT-2-style pre-tokenizer regex (letter
    * runs / digit runs / single punctuation) — the unit that tracks
    * model token counts far better than whitespace words. Counted with
    * regexp_extract_all on both engines.
    */
  val t05 = QueryDef(
    "t05_bpe_tokens",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val norm = normText(col("text"))
      val pieces = regexp_extract_all(norm, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
      d.select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_words"),
        size(pieces).as("n_bpe_pieces"),
        (size(pieces) / size(tokens(col("text")))).as("pieces_per_word"))
    },
    Some("""
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_words,
        CAST(len(pieces) AS INTEGER) AS n_bpe_pieces,
        len(pieces) * 1.0 / len(toks) AS pieces_per_word
      FROM (
        SELECT doc_id,
          string_split(norm, ' ') AS toks,
          regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\s]') AS pieces
        FROM (
          SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
          FROM documents))
    """.stripMargin.trim))

  /** Deterministic stratified split: every document lands in
    * train/val/test by a content-hash bucket (fingerprint60 mod 100 →
    * 80/10/10) — reproducible across runs, engines, and cluster sizes,
    * and leak-free (identical content always lands in the same split).
    * Output is the per-(source, split) contingency table.
    */
  val t06 = QueryDef(
    "t06_train_val_split",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val bucket = fingerprint60(col("text")) % 100
      d.withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"))
    },
    Some("""
      SELECT source, split, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
      FROM (
        SELECT source, n_chars,
          CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        FROM (
          SELECT source, n_chars,
            ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15))::BIGINT % 100 AS b
          FROM documents))
      GROUP BY 1, 2
    """.stripMargin.trim))

  /** Repetition signals — the Gopher/RefinedWeb-style duplicate-content
    * heuristics corpus filters apply per document: duplicate-word ratio,
    * duplicate-2-gram ratio, and most-frequent-word fraction. All narrow
    * per-row array arithmetic; the token array is materialized ONCE
    * before any lambda touches it (HOF-hygiene rule), and the
    * per-distinct-word count is bounded by document length, never
    * corpus size.
    */
  val t07 = QueryDef(
    "t07_repetition_signals",
    (s, dir) => {
      // keyless fan-out (r19, guide §2.5): the per-row HOF scoring is
      // the whole query and otherwise runs on the one-task scan; pure
      // projection — row set unchanged.
      val d = Tables.fanOut(s, dir, "documents", Tables.documents(s, dir))
        .withColumn("toks", tokens(col("text")))
      val withGrams = d.withColumn("grams", shinglesOf(col("toks"), 2))
      withGrams.select(
        col("doc_id"),
        size(col("toks")).as("n_words"),
        size(array_distinct(col("toks"))).as("n_distinct_words"),
        ((size(col("toks")) - size(array_distinct(col("toks")))) / size(col("toks")))
          .as("dup_word_ratio"),
        ((size(col("grams")) - size(array_distinct(col("grams")))) / size(col("grams")))
          .as("dup_2gram_ratio"),
        (array_max(transform(array_distinct(col("toks")),
          w => size(filter(col("toks"), t => t === w)))) / size(col("toks")))
          .as("top_word_fraction"))
    },
    Some("""
      SELECT doc_id,
        CAST(len(toks) AS INTEGER) AS n_words,
        CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_words,
        (len(toks) - len(list_distinct(toks))) * 1.0 / len(toks) AS dup_word_ratio,
        (len(grams) - len(list_distinct(grams))) * 1.0 / len(grams) AS dup_2gram_ratio,
        list_max(list_transform(list_distinct(toks),
          w -> len(list_filter(toks, t -> t = w)))) * 1.0 / len(toks) AS top_word_fraction
      FROM (
        SELECT doc_id, toks,
          list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS grams
        FROM (
          SELECT doc_id,
            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
          FROM documents))
    """.stripMargin.trim))

  /** PII detection + redaction — the scrub pass (Dolma/CCNet-style)
    * a corpus runs before training: count emails / NANP phones / IPv4
    * addresses per document and fingerprint the redacted text. The
    * driver's documents table is synthetic word-soup with no digits, so
    * the query first seeds deterministic PII spans derived from doc_id
    * (the same in-query fixture discipline as m01/m02) — both engines
    * build the identical augmented string, then detect and redact it.
    * Patterns stay in the Java∩RE2 common regex dialect so Spark and
    * the DuckDB oracle compile them identically. Narrow per-row map; the
    * one subtlety is materializing `aug` once (withColumn) so the three
    * extracts and the redact chain don't each rebuild the concat.
    */
  val t08: QueryDef = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    QueryDef(
      "t08_pii_scrub",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val id = col("doc_id")
        val email = concat(lit(" contact user"), id.cast("string"), lit("@example.com"))
        val phone = concat(lit(" call 555-"),
          lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((id % 10000).cast("string"), 4, "0"))
        val ip = concat(lit(" host 10."), (id % 256).cast("string"),
          lit(".0."), (id % 200).cast("string"))
        val aug = concat(normText(col("text")),
          when(id % 7 === 0, email).otherwise(lit("")),
          when(id % 7 === 1, phone).otherwise(lit("")),
          when(id % 7 === 2, ip).otherwise(lit("")),
          when(id % 7 === 3, concat(email, ip)).otherwise(lit("")))
        val withAug = d.withColumn("aug", aug)
        val nEmails = size(regexp_extract_all(col("aug"), lit(emailRe), lit(0)))
        val nPhones = size(regexp_extract_all(col("aug"), lit(phoneRe), lit(0)))
        val nIps = size(regexp_extract_all(col("aug"), lit(ipRe), lit(0)))
        withAug.select(
          col("doc_id"),
          nEmails.as("n_emails"),
          nPhones.as("n_phones"),
          nIps.as("n_ips"),
          (nEmails + nPhones + nIps).as("pii_total"),
          md5(regexp_replace(
            regexp_replace(
              regexp_replace(col("aug"), emailRe, "<email>"),
              ipRe, "<ip>"),
            phoneRe, "<phone>")).as("redacted_fp"))
      },
      Some(s"""
      SELECT doc_id,
        CAST(len(regexp_extract_all(aug, '$emailRe')) AS INTEGER) AS n_emails,
        CAST(len(regexp_extract_all(aug, '$phoneRe')) AS INTEGER) AS n_phones,
        CAST(len(regexp_extract_all(aug, '$ipRe')) AS INTEGER) AS n_ips,
        CAST(len(regexp_extract_all(aug, '$emailRe'))
           + len(regexp_extract_all(aug, '$phoneRe'))
           + len(regexp_extract_all(aug, '$ipRe')) AS INTEGER) AS pii_total,
        md5(regexp_replace(
              regexp_replace(
                regexp_replace(aug, '$emailRe', '<email>', 'g'),
                '$ipRe', '<ip>', 'g'),
              '$phoneRe', '<phone>', 'g')) AS redacted_fp
      FROM (
        SELECT doc_id, concat(
          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
          CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || doc_id || '@example.com' ELSE '' END,
          CASE WHEN doc_id % 7 = 1
               THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
                    '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END,
          CASE WHEN doc_id % 7 = 2
               THEN ' host 10.' || (doc_id % 256) || '.0.' || (doc_id % 200) ELSE '' END,
          CASE WHEN doc_id % 7 = 3
               THEN ' contact user' || doc_id || '@example.com' ||
                    ' host 10.' || (doc_id % 256) || '.0.' || (doc_id % 200) ELSE '' END)
          AS aug
        FROM documents)
      """.stripMargin.trim))
  }

  /** Corpus heavy hitters: top-20 tokens by exact count via the
    * Misra–Gries sketch-then-verify pipeline ([[graft.text.HeavyHitters]])
    * — O(k) sketch state per partition instead of shuffling the whole
    * vocabulary, exact counts only for the ≤k candidates, full-agg
    * fallback when the MG bound can't certify the list. The oracle is
    * the plain exact top-20 (count desc, token asc): whichever path the
    * engine takes, the published rows are exact.
    */
  val t09 = QueryDef(
    "t09_heavy_hitters",
    (s, dir) => HeavyHitters.topTokens(s, Tables.documents(s, dir)),
    Some("""
      WITH tok AS (
        SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        FROM documents),
      cnt AS (SELECT token, count(*) AS n_exact FROM tok GROUP BY 1),
      tot AS (SELECT count(*) AS n FROM tok)
      SELECT token, n_exact, n_exact * 1.0 / (SELECT n FROM tot) AS corpus_frac
      FROM cnt ORDER BY n_exact DESC, token LIMIT 20
    """.stripMargin.trim))

  /** Per-language document-length quantiles (p25/p50/p75/p95 of token
    * count) — the corpus-profiling pass that sets truncation/packing
    * budgets. Quantiles are RANK-SELECTED (the value at ceil(q·n) in
    * the per-group sort, ties broken by doc_id), not interpolated:
    * selection is pure row-picking plus integer arithmetic
    * (`(19n+19) div 20`-style ceilings), so the result is
    * bit-identical on any engine — `percentile`/`quantile_cont`
    * interpolation would differ in the last ulp between engines and is
    * deliberately avoided. One shuffle (the per-lang window sort);
    * at 100 TB the same shape range-partitions per group, or swap in a
    * mergeable quantile sketch when approximation is acceptable.
    */
  val t10 = QueryDef(
    "t10_length_quantiles",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          size(tokens(col("text"))).as("n_tokens"))
      val byLen = Window.partitionBy("lang").orderBy(col("n_tokens"), col("doc_id"))
      val all = Window.partitionBy("lang")
      def pick(slot: String) =
        max(when(col("rn") === expr(slot), col("n_tokens")))
      d.withColumn("rn", row_number().over(byLen))
        .withColumn("n", count(lit(1)).over(all))
        .groupBy("lang")
        .agg(
          max(col("n")).as("n_docs"),
          pick("(n + 3) div 4").as("p25"),
          pick("(n + 1) div 2").as("p50"),
          pick("(3*n + 3) div 4").as("p75"),
          pick("(19*n + 19) div 20").as("p95"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang,
          CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS INTEGER) AS n_tokens
        FROM documents),
      r AS (
        SELECT lang, doc_id, n_tokens,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY lang) AS n
        FROM d)
      SELECT lang,
        CAST(MAX(n) AS BIGINT) AS n_docs,
        CAST(MAX(CASE WHEN rn = (n+3)//4 THEN n_tokens END) AS INTEGER) AS p25,
        CAST(MAX(CASE WHEN rn = (n+1)//2 THEN n_tokens END) AS INTEGER) AS p50,
        CAST(MAX(CASE WHEN rn = (3*n+3)//4 THEN n_tokens END) AS INTEGER) AS p75,
        CAST(MAX(CASE WHEN rn = (19*n+19)//20 THEN n_tokens END) AS INTEGER) AS p95
      FROM r GROUP BY 1
    """.stripMargin.trim))

  /** O(m) exclusive prefix sum over a control-plane-sized array — the
    * TOP level of [[packSequences]]'s distributed cumsum. A Scala
    * closure, but NEVER in the hot path: it runs exactly once per
    * query, over one row holding the superbucket totals (corpus /
    * 10^6 elements — 8 MB of longs at a trillion documents). Spark has
    * no builtin scan/prefix HOF, and the `aggregate`/`transform`
    * emulations are O(m²) in either time or array-copy churn.
    */
  private val exclusivePrefix =
    udf((totals: Seq[Long]) => {
      var acc = 0L
      totals.map { t => val out = acc; acc += t; out }
    })

  /** Sequence packing: assign every document its token offset in the
    * doc_id-ordered concatenation of the corpus, the fixed-budget
    * training sequence it lands in (`seq_id = offset div 2048`), and
    * whether it straddles a sequence boundary — the concat-and-split
    * step that turns a cleaned corpus into fixed-length LLM training
    * sequences.
    *
    * The global running total is a DISTRIBUTED three-level prefix sum
    * with NO single-partition window anywhere (r20): per-bucket
    * cumulative sums run in parallel (window partitioned by
    * `doc_id div 100`), bucket totals cumsum within superbuckets
    * (window partitioned by `bucket div 10000`), and the superbucket
    * totals — corpus/10^6 rows, control-plane-sized at any corpus
    * scale — take one O(m) array prefix on a single collected row,
    * broadcast back. Integer addition is associative, so the result is
    * bit-identical to the oracle's single global cumsum.
    *
    * The packing recipe over ANY (doc_id, n_tokens) frame — t11 feeds
    * it whitespace-token counts (the oracle-checked default); feed it
    * real encoder counts for REAL model-token budgets (the opt-in mode
    * a production packer uses once a tokenizer is pinned —
    * spec-verified in TextSpec). The input the encoder needs depends on
    * the REGISTERED vocabulary's mode: the fixture vocabulary takes the
    * canonical text (`size(bpe_tokens(norm))`), but a LOADED byte-level
    * vocabulary (GPT-2 family — what `Runner --bpe-merges` auto-detects)
    * has case-sensitive `Ġ`-merges that need the RAW text
    * (`size(bpe_tokens(text))`); feeding it canonicalized text leaves
    * most merges dead and silently inflates every count — the exact
    * failure `Bpe.loadVocab`'s arbitration exists to prevent.
    */
  def packSequences(d0: org.apache.spark.sql.DataFrame,
      budget: Int = 2048): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = d0.withColumn("bucket", expr("doc_id div 100"))
    val wLocal = Window.partitionBy("bucket").orderBy("doc_id")
    val local = d.withColumn("cum", sum(col("n_tokens")).over(wLocal))
    // r19 shipped the bucket-offsets prefix as ONE GLOBAL window
    // (`Window.orderBy("bucket")`, no partition — the source of
    // Verify's WindowExec single-partition warnings): corpus/100 rows
    // through one task, a 10^7-row single-task sort at a 10^9-document
    // corpus. r20 (VERDICT #5): the prefix is now fully partitioned —
    // bucket totals cumsum WITHIN superbuckets (10^4 buckets each, a
    // partitioned window), and the superbucket totals (corpus/10^6
    // rows, control-plane at any scale) take one O(m) array prefix on
    // a single collected row ([[exclusivePrefix]]) instead of a
    // single-partition WindowExec. Integer addition is associative, so
    // the three-level decomposition is bit-identical to the oracle's
    // single global cumsum.
    val btot = d.groupBy("bucket").agg(sum(col("n_tokens")).as("btot"))
      .withColumn("sbucket", expr("bucket div 10000"))
    val wSuper = Window.partitionBy("sbucket").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sOff = btot.groupBy("sbucket").agg(sum(col("btot")).as("stot"))
      .agg(sort_array(collect_list(struct(col("sbucket"), col("stot")))).as("a"))
      .select(col("a.sbucket").as("sb"), exclusivePrefix(col("a.stot")).as("off"))
      .select(explode(arrays_zip(col("sb"), col("off"))).as("z"))
      .select(col("z.sb").as("sbucket"), col("z.off").as("soffset"))
    val offsets = btot
      .withColumn("scum", coalesce(sum(col("btot")).over(wSuper), lit(0L)))
      .join(broadcast(sOff), "sbucket")
      .select(col("bucket"), (col("soffset") + col("scum")).as("boffset"))
    local.join(broadcast(offsets), "bucket")
      .withColumn("tok_offset", col("boffset") + col("cum") - col("n_tokens"))
      .withColumn("seq_id", expr(s"tok_offset div $budget"))
      .withColumn("straddles",
        when(expr(s"tok_offset div $budget") =!=
          expr(s"(tok_offset + n_tokens - 1) div $budget"), 1).otherwise(0))
      .select("doc_id", "n_tokens", "tok_offset", "seq_id", "straddles")
  }

  val t11: QueryDef = {
    val budget = 2048
    QueryDef(
      "t11_sequence_packing",
      (s, dir) => packSequences(
        Tables.documents(s, dir)
          .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens")),
        budget),
      Some(s"""
      WITH d AS (
        SELECT doc_id,
          CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS INTEGER) AS n_tokens
        FROM documents),
      o AS (
        SELECT doc_id, n_tokens,
          COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_offset
        FROM d)
      SELECT doc_id, n_tokens,
        CAST(tok_offset AS BIGINT) AS tok_offset,
        CAST(tok_offset // $budget AS BIGINT) AS seq_id,
        CAST(CASE WHEN tok_offset // $budget <> (tok_offset + n_tokens - 1) // $budget
             THEN 1 ELSE 0 END AS INTEGER) AS straddles
      FROM o
      """.stripMargin.trim))
  }

  /** Domain-mixture sampling: give every source the same token budget
    * and deterministically subsample the sources that exceed it — the
    * rebalancing step that keeps one dominant crawl from drowning the
    * long-tail domains in a training mix.
    *
    * Per-source keep rate = min(1, budget / total_tokens); the keep
    * decision hashes a salted doc key (`mix:<doc_id>`) so it is
    * reproducible run-to-run, independent of partitioning, and
    * uncorrelated with the content hashes the dedup/split passes use.
    * Numerics are engine-portable by construction: one IEEE double
    * division for the rate, one multiply by 2^60 (exactly
    * representable), and a compare against the 60-bit hash — identical
    * bit patterns on any IEEE-754 engine, no transcendentals.
    *
    * Scale shape: the per-source totals are a tiny aggregate (one row
    * per domain) broadcast back onto the corpus; the only shuffle at
    * 100 TB is that aggregate — the keep decision itself is a narrow
    * per-row map.
    */
  val t12: QueryDef = {
    val budget = 1300L // per-source token budget
    QueryDef(
      "t12_mixture_sample",
      (s, dir) => {
        import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), size(tokens(col("text"))).as("n_tokens"))
        val totals = d.groupBy("source")
          .agg(sum(col("n_tokens")).as("total_tokens"))
          .withColumn("rate",
            least(lit(1.0), lit(budget.toDouble) / col("total_tokens").cast(DoubleType)))
        val u60 = conv(
          substring(md5(concat(lit("mix:"), col("doc_id").cast(StringType))), 1, 15),
          16, 10).cast(LongType)
        d.join(broadcast(totals), "source")
          .withColumn("keep",
            when(u60.cast(DoubleType) < col("rate") * lit(math.pow(2, 60)), 1).otherwise(0))
          .select("doc_id", "source", "n_tokens", "total_tokens", "rate", "keep")
      },
      Some(s"""
      WITH d AS (
        SELECT doc_id, source,
          CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS INTEGER) AS n_tokens
        FROM documents),
      t AS (
        SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          LEAST(1.0, $budget.0 / CAST(SUM(n_tokens) AS DOUBLE)) AS rate
        FROM d GROUP BY 1)
      SELECT d.doc_id, d.source, d.n_tokens, t.total_tokens, t.rate,
        CAST(CASE WHEN CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)
                  < t.rate * 1152921504606846976.0
             THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM d JOIN t USING (source)
      """.stripMargin.trim))
  }

  /** Passage chunking: every document cut into fixed-size token windows
    * with overlap (size 50, stride 40 — 10 tokens of context shared
    * between neighbors), each chunk carrying its offset, actual length,
    * text, and content fingerprint — the retrieval/embedding unit a
    * RAG or pretraining pipeline feeds downstream. Narrow per-row work:
    * the token array materializes ONCE (HOF-hygiene rule), chunk ids
    * explode from a sequence, and each chunk is a slice — no shuffle
    * anywhere, linear in corpus size.
    *
    * The chunking recipe over ANY (doc_id, toks array<string>) frame —
    * t13 feeds it whitespace tokens (the oracle-checked default); feed
    * it encoder output for chunks measured in REAL model tokens
    * (opt-in, spec-verified in TextSpec): `bpe_tokens(norm)` under the
    * fixture vocabulary, `bpe_tokens(text)` — RAW text — under a loaded
    * byte-level vocabulary (see [[packSequences]]'s mode note). Pure
    * narrow plan either way.
    */
  def chunkTokens(d0: org.apache.spark.sql.DataFrame,
      size: Int = 50, stride: Int = 40): org.apache.spark.sql.DataFrame = {
    val d = d0.withColumn("n", org.apache.spark.sql.functions.size(col("toks")))
    d.withColumn("chunk_id_l", explode(sequence(lit(0), expr(s"(n - 1) div $stride"))))
      .withColumn("chunk_id", col("chunk_id_l").cast("int"))
      .withColumn("start_tok", (col("chunk_id") * stride).cast("int"))
      .withColumn("chunk_len", least(lit(size), col("n") - col("start_tok")))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("toks"), col("start_tok") + 1, lit(size))))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("chunk_len"), col("chunk_text"),
        md5(col("chunk_text")).as("chunk_fp"))
  }

  val t13: QueryDef = {
    val size = 50; val stride = 40
    QueryDef(
      "t13_chunking",
      (s, dir) => chunkTokens(
        Tables.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks")),
        size, stride),
      Some(s"""
      WITH d AS (
        SELECT doc_id,
          string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
        FROM documents),
      c AS (
        SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n,
          CAST(unnest(range(0, (len(toks) - 1) // $stride + 1)) AS INTEGER) AS chunk_id
        FROM d)
      SELECT doc_id, chunk_id,
        chunk_id * $stride AS start_tok,
        CAST(LEAST($size, n - chunk_id * $stride) AS INTEGER) AS chunk_len,
        array_to_string(toks[chunk_id * $stride + 1 : chunk_id * $stride + $size], ' ') AS chunk_text,
        md5(array_to_string(toks[chunk_id * $stride + 1 : chunk_id * $stride + $size], ' ')) AS chunk_fp
      FROM c
      """.stripMargin.trim))
  }

  /** TRUE BPE tokenization ([[graft.text.Bpe]]): the shipped ranked
    * merges table applied iteratively per pre-tokenizer piece (t05's
    * units), published as per-document token counts with vocabulary
    * ids. t05 counts PRE-tokenizer pieces; this is the real encoder a
    * token-budget pipeline needs. The kernel is a codegen'd narrow map
    * (no shuffle before the final aggregation); the oracle replays the
    * identical merges list (one Scala vector is the single source of
    * both engines' tables) with the merge loop as a recursive CTE over
    * distinct pieces — each symbol string carries its own boundary
    * separators, making one SQL `replace` exactly one leftmost
    * non-overlapping merge-all pass.
    */
  val t14 = QueryDef(
    "t14_bpe_encode",
    (s, dir) => {
      graft.text.BpeFunctions.register(s)
      // keyless fan-out (r19): the per-row BPE encode dominates and
      // otherwise runs on the one-task scan; count aggregate downstream.
      Tables.fanOut(s, dir, "documents", Tables.documents(s, dir))
        .withColumn("norm", normText(col("text")))
        .select(col("doc_id"), explode(expr("bpe_tokens(norm)")).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("token_id", expr("bpe_token_id(token)"))
        .select("doc_id", "token", "token_id", "cnt")
    },
    Some(s"""
      WITH RECURSIVE
      docs AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
        FROM documents),
      pieces AS (
        SELECT doc_id, unnest(regexp_extract_all(norm, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS piece
        FROM docs),
      pcount AS (SELECT doc_id, piece, COUNT(*) AS np FROM pieces GROUP BY 1, 2),
      merges(rank, a, b) AS (VALUES ${graft.text.Bpe.mergesSqlValues}),
      enc0 AS (
        SELECT piece,
          chr(31) || array_to_string(list_transform(range(1, len(piece)+1), i -> piece[i:i]), chr(31)||chr(31)) || chr(31) AS sym
        FROM (SELECT DISTINCT piece FROM pcount)),
      rec AS (
        SELECT piece, sym FROM enc0
        UNION ALL
        SELECT r.piece, replace(r.sym, best.pat, best.rep) AS sym
        FROM rec r, LATERAL (
          SELECT chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31) AS pat,
                 chr(31)||m.a||m.b||chr(31) AS rep
          FROM merges m
          WHERE contains(r.sym, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31))
          ORDER BY m.rank LIMIT 1) best),
      fin AS (
        SELECT piece, sym FROM rec r
        WHERE NOT EXISTS (SELECT 1 FROM merges m
          WHERE contains(r.sym, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31)))),
      ptok AS (
        SELECT piece, unnest(string_split(trim(sym, chr(31)), chr(31)||chr(31))) AS token
        FROM fin),
      ptokc AS (SELECT piece, token, COUNT(*) AS k FROM ptok GROUP BY 1, 2),
      ids AS (SELECT a || b AS token, 1114112 + MIN(rank) AS id FROM merges GROUP BY 1)
      SELECT pc.doc_id, pt.token,
        CAST(COALESCE(CASE WHEN len(pt.token) = 1 THEN unicode(pt.token) END, i.id, -1) AS INTEGER) AS token_id,
        CAST(SUM(pc.np * pt.k) AS BIGINT) AS cnt
      FROM pcount pc
      JOIN ptokc pt USING (piece)
      LEFT JOIN ids i ON i.token = pt.token
      GROUP BY 1, 2, 3
    """.stripMargin.trim))

  /** t15's training corpus: a pinned, frequency-skewed sample of the
    * document corpus's own vocabulary (word i appears n−i times), so
    * the trained merges form real multi-level chains (` table` needs
    * six) and rarer words stay partially merged — the encoder's
    * interesting regime. Deterministic by construction: training is
    * greedy count-then-merge with a lexicographic tie-break
    * ([[graft.text.Bpe.train]]), so every JVM derives the identical
    * ranked merges and the pinned oracle replay can never drift.
    */
  private[graft] val t15TrainCorpus: Seq[String] = {
    val words = Seq("table", "value", "scan", "query", "spark", "batch",
      "window", "stream", "merge", "filter", "column", "customer", "order",
      "group", "line", "part", "hash", "data", "fast", "slow", "small",
      "big", "key", "agg", "row", "sort", "join", "vector", "the", "a")
    words.zipWithIndex.map { case (w, i) =>
      Seq.fill(words.size - i)(w).mkString(" ")
    }
  }

  /** The byte-level vocabulary t15 encodes with, TRAINED IN-ENGINE
    * ([[graft.text.Bpe.trainFromTexts]], byteLevel = true — GPT-2
    * pre-tokenizer over raw text, byte↔unicode mapping, greedy pair
    * merging). The 120 is a cap — training runs to pair exhaustion at
    * 108 merges on this fixture: the frequent vocabulary merges to
    * whole `Ġword` symbols, rarer forms stay sub-word.
    */
  private[graft] lazy val t15Vocab: graft.text.Bpe.Vocab =
    new graft.text.Bpe.Vocab(
      graft.text.Bpe.trainFromTexts(t15TrainCorpus, nMerges = 120,
        byteLevel = true), true)

  /** BYTE-LEVEL BPE under the oracle gate: encode the RAW document text
    * (case and whitespace preserved — the byte-level contract) with the
    * in-engine-trained vocabulary above, published as per-document
    * token counts with vocabulary ids, exactly t14's shape. This is the
    * mode real model vocabularies load in ([[graft.text.Bpe.loadVocab]]
    * auto-detect), previously spec-only.
    *
    * The oracle replays the full byte-level path from the same single
    * sources of truth: the GPT-2 byte↔unicode table as a 256-row lookup
    * ([[graft.text.Bpe.byteMapSqlValues]], joined per character by code
    * point — exact because the synthetic corpus is single-byte ASCII;
    * a multi-byte corpus would need byte-wise extraction the engine
    * side already does), the TRAINED merges
    * ([[graft.text.Bpe.mergesSqlValuesOf]]), and t14's recursive-CTE
    * merge loop. The pre-tokenizer is the GPT-2 regex minus its
    * trailing-whitespace lookahead branch (RE2 has no lookahead);
    * equivalent on any single-spaced corpus — which this one is — while
    * the Spark kernel runs the true regex.
    */
  val t15 = QueryDef(
    "t15_bpe_byte_encode",
    (s, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val toks = ColumnBridge.column(graft.text.BpeTokensExpr(
        ColumnBridge.expression(col("text")), t15Vocab))
      // keyless fan-out (r19): see t14.
      Tables.fanOut(s, dir, "documents", Tables.documents(s, dir))
        .select(col("doc_id"), explode(toks).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("token_id", ColumnBridge.column(graft.text.BpeTokenIdExpr(
          ColumnBridge.expression(col("token")), t15Vocab)))
        .select("doc_id", "token", "token_id", "cnt")
    },
    Some(s"""
      WITH RECURSIVE
      pieces AS (
        SELECT doc_id, unnest(regexp_extract_all(text,
          '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS rawpiece
        FROM documents),
      pcount AS (SELECT doc_id, rawpiece, COUNT(*) AS np FROM pieces GROUP BY 1, 2),
      bytemap(b, c) AS (VALUES ${graft.text.Bpe.byteMapSqlValues}),
      chars AS (
        SELECT rawpiece, i, substr(rawpiece, CAST(i AS INTEGER), 1) AS ch
        FROM (SELECT DISTINCT rawpiece FROM pcount) pd, UNNEST(range(1, len(rawpiece)+1)) AS t(i)),
      mapped AS (
        SELECT rawpiece, string_agg(bm.c, '' ORDER BY i) AS piece
        FROM chars JOIN bytemap bm ON bm.b = unicode(ch)
        GROUP BY rawpiece),
      merges(rank, a, b) AS (VALUES ${graft.text.Bpe.mergesSqlValuesOf(t15Vocab.merges)}),
      enc0 AS (
        SELECT piece,
          chr(31) || array_to_string(list_transform(range(1, len(piece)+1), i -> piece[i:i]), chr(31)||chr(31)) || chr(31) AS sym
        FROM (SELECT DISTINCT piece FROM mapped)),
      rec AS (
        SELECT piece, sym FROM enc0
        UNION ALL
        SELECT r.piece, replace(r.sym, best.pat, best.rep) AS sym
        FROM rec r, LATERAL (
          SELECT chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31) AS pat,
                 chr(31)||m.a||m.b||chr(31) AS rep
          FROM merges m
          WHERE contains(r.sym, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31))
          ORDER BY m.rank LIMIT 1) best),
      fin AS (
        SELECT piece, sym FROM rec r
        WHERE NOT EXISTS (SELECT 1 FROM merges m
          WHERE contains(r.sym, chr(31)||m.a||chr(31)||chr(31)||m.b||chr(31)))),
      ptok AS (
        SELECT piece, unnest(string_split(trim(sym, chr(31)), chr(31)||chr(31))) AS token
        FROM fin),
      ptokc AS (SELECT piece, token, COUNT(*) AS k FROM ptok GROUP BY 1, 2),
      ids AS (SELECT a || b AS token, 1114112 + MIN(rank) AS id FROM merges GROUP BY 1)
      SELECT pc.doc_id, pt.token,
        CAST(COALESCE(CASE WHEN len(pt.token) = 1 THEN unicode(pt.token) END, i.id, -1) AS INTEGER) AS token_id,
        CAST(SUM(pc.np * pt.k) AS BIGINT) AS cnt
      FROM pcount pc
      JOIN mapped mp USING (rawpiece)
      JOIN ptokc pt USING (piece)
      LEFT JOIN ids i ON i.token = pt.token
      GROUP BY 1, 2, 3
    """.stripMargin.trim))

  def all: Seq[QueryDef] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13, t14, t15)
}
