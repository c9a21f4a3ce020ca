package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.{DedupOps, TextOps}

/** LLM-training-data text operators over `documents` (north-star scope):
  * language ID, quality scoring, token counting, fingerprinting, and the
  * dedup family (exact, n-gram Jaccard, MinHash+LSH, SimHash). Sketch-based
  * methods verify candidates with exact Jaccard, so their gate output is
  * reproducible by the DuckDB oracle's exact computation.
  */
object TextQueries extends QueryBatch {

  private def docs(s: SparkSession, dir: String) = Tables.t(s, dir, "documents")

  /** documents ∪ mutated near-copies (known near-dup ground truth). */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(
      d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" extra token extra2")).as("text")))
  }

  private val corpusSql =
    """corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000, text || ' extra token extra2'
         FROM documents WHERE doc_id % 20 = 0)"""

  /** Exact n-gram (5-word shingle) Jaccard pairs — shared oracle for the
    * three near-dup implementations. */
  private def jaccardOracle(threshold: String): String =
    s"""WITH $corpusSql,
        words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w FROM corpus),
        grams AS (SELECT DISTINCT doc_id,
                    w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] AS shingle
                  FROM words, UNNEST(range(greatest(len(w) - 4, 0))) AS t(i)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                  FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT d1, d2,
               round(inter::DOUBLE / (s1.sz + s2.sz - inter) + 1e-9, 4) AS jaccard
        FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
        WHERE inter::DOUBLE / (s1.sz + s2.sz - inter) >= $threshold
        ORDER BY d1, d2"""

  /** Language ID: stopword-presence argmax heuristic. */
  private val q70 = GQ(
    "q70_lang_id",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id"),
    Some("""WITH s AS (SELECT doc_id,
              (CASE WHEN ' '||lower(text)||' ' LIKE '% the %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% and %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% of %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% to %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% in %' THEN 1 ELSE 0 END) AS s_en,
              (CASE WHEN ' '||lower(text)||' ' LIKE '% el %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% la %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% de %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% que %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% y %' THEN 1 ELSE 0 END) AS s_es,
              (CASE WHEN ' '||lower(text)||' ' LIKE '% le %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% les %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% et %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% des %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% un %' THEN 1 ELSE 0 END) AS s_fr,
              (CASE WHEN ' '||lower(text)||' ' LIKE '% der %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% die %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% und %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% das %' THEN 1 ELSE 0 END
             + CASE WHEN ' '||lower(text)||' ' LIKE '% ist %' THEN 1 ELSE 0 END) AS s_de
            FROM documents)
            SELECT doc_id,
              CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                   WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_de THEN 'es'
                   WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                   WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                   ELSE 'und' END AS lang_pred
            FROM s ORDER BY doc_id""")
  )

  /** Quality score: length + punctuation + stopword composite. */
  private val q71 = GQ(
    "q71_quality_score",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            round(
              least(len(string_split_regex(lower(trim(text)), '\s+')) / 50.0, 1.0) * 0.4
            + (1.0 - least(((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                            / greatest(length(text)::DOUBLE, 1.0)) * 10.0, 1.0)) * 0.3
            + ((CASE WHEN ' '||lower(text)||' ' LIKE '% the %' THEN 1 ELSE 0 END
              + CASE WHEN ' '||lower(text)||' ' LIKE '% and %' THEN 1 ELSE 0 END
              + CASE WHEN ' '||lower(text)||' ' LIKE '% of %' THEN 1 ELSE 0 END
              + CASE WHEN ' '||lower(text)||' ' LIKE '% to %' THEN 1 ELSE 0 END
              + CASE WHEN ' '||lower(text)||' ' LIKE '% in %' THEN 1 ELSE 0 END) / 5.0) * 0.3
            + 1e-9, 4) AS quality
            FROM documents ORDER BY doc_id""")
  )

  /** Token counting: whitespace + BPE-ish regex tokens. */
  private val q72 = GQ(
    "q72_token_counts",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        TextOps.tokenCountWs(col("text")).as("n_ws"),
        TextOps.tokenCountBpe(col("text")).as("n_bpe"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            len(string_split_regex(text, '\s+')) AS n_ws,
            len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe
            FROM documents ORDER BY doc_id""")
  )

  /** Exact dedup: identical copies collapse to the lowest doc_id. */
  private val q73 = GQ(
    "q73_exact_dedup",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val corpus = d.unionAll(
        d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
      DedupOps.exactDedupIds(corpus).orderBy("doc_id")
    },
    Some("""SELECT doc_id FROM documents ORDER BY doc_id""")
  )

  /** N-gram Jaccard near-dup pairs (inverted-index join, exact). */
  private val q74 = GQ(
    "q74_ngram_jaccard",
    (s, dir) => DedupOps.jaccardPairs(dupCorpus(s, dir), n = 5, threshold = 0.5)
      .orderBy("d1", "d2"),
    Some(jaccardOracle("0.5"))
  )

  /** MinHash+LSH near-dup pairs, exact-verified: banding finds candidates
    * sub-quadratically, verification makes output exact. */
  private val q75 = GQ(
    "q75_minhash_lsh",
    (s, dir) => DedupOps.minhashLshPairs(dupCorpus(s, dir), n = 5, threshold = 0.5)
      .orderBy("d1", "d2"),
    Some(jaccardOracle("0.5"))
  )

  /** SimHash near-dup pairs, chunk-blocked + exact-verified. */
  private val q76 = GQ(
    "q76_simhash",
    (s, dir) => DedupOps.simhashPairs(dupCorpus(s, dir),
        maxHamming = 12, n = 5, threshold = 0.5)
      .orderBy("d1", "d2"),
    Some(jaccardOracle("0.5"))
  )

  /** Document fingerprinting: rolling normalized-hash id per doc. */
  private val q77 = GQ(
    "q77_fingerprint",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents ORDER BY doc_id""")
  )

  /** Native-codegen rolling-hash fingerprint (custom Catalyst Expression
    * with doGenCode): 56-bit polynomial hash, cheap non-crypto dedup key;
    * oracle replays the same recurrence with list_reduce. */
  private val q78 = GQ(
    "q78_rolling_fingerprint",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.rolling_hash(s, col("text")).as("rh"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
            list_reduce(
              list_prepend(CAST(0 AS BIGINT), [ascii(c) FOR c IN string_split(text, '')]),
              (acc, c) -> (acc * 31 + c) % 72057594037927936) AS rh
            FROM documents ORDER BY doc_id""")
  )

  /** PII redaction (C4-style scrub): emails and phone numbers replaced with
    * typed placeholder tokens, per-doc redaction counts kept for audit.
    * Pure codegen'd regexp expressions — runs inside the scan projection
    * with zero shuffle at any corpus size. The synthetic corpus carries no
    * PII, so deterministic emails/phones are injected in-query (both
    * engines build the identical corpus, as the dedup gates do). Patterns
    * stay inside the Java-regex ∩ RE2 common subset so the DuckDB oracle
    * replays them verbatim. */
  private val q79 = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    GQ(
      "q79_pii_redaction",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 10 === 0,
              concat(lit(" contact user"), col("doc_id"), lit("@example.com ok")))
              .otherwise(lit("")),
            when(col("doc_id") % 15 === 0, lit(" call 555-123-4567 now"))
              .otherwise(lit(""))).as("text"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(emailPat), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("text"), lit(phonePat), lit(0))).as("n_phones"),
          regexp_replace(regexp_replace(col("text"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").as("redacted"))
        .orderBy("doc_id"),
      Some(s"""WITH corpus AS (
                 SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 10 = 0
                           THEN ' contact user' || doc_id || '@example.com ok'
                           ELSE '' END
                   || CASE WHEN doc_id % 15 = 0
                           THEN ' call 555-123-4567 now' ELSE '' END AS text
                 FROM documents)
               SELECT doc_id,
                 len(regexp_extract_all(text, '$emailPat')) AS n_emails,
                 len(regexp_extract_all(text, '$phonePat')) AS n_phones,
                 regexp_replace(regexp_replace(text, '$emailPat', '<EMAIL>', 'g'),
                   '$phonePat', '<PHONE>', 'g') AS redacted
               FROM corpus ORDER BY doc_id""")
    )
  }

  /** Dedup cluster resolution: connected components over the exact
    * near-dup pair graph (q74's pairs), min-doc-id representative per
    * cluster, singletons keeping themselves — the "choose one survivor
    * per duplicate cluster" step a dedup pipeline runs after pair mining.
    * Oracle replays the component labeling with a recursive CTE over the
    * same exact-Jaccard pair set. */
  private val q202 = GQ(
    "q202_dedup_clusters",
    (s, dir) => {
      val corpus = dupCorpus(s, dir)
      val pairs = DedupOps.jaccardPairs(corpus, n = 5, threshold = 0.5)
        .select("d1", "d2")
      DedupOps.connectedComponents(pairs, corpus.select("doc_id"))
        .withColumn("is_dup", col("cluster_rep") =!= col("doc_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $corpusSql,
              words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w
                        FROM corpus),
              grams AS (SELECT DISTINCT doc_id,
                          w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
                            || w[i+4] || ' ' || w[i+5] AS shingle
                        FROM words, UNNEST(range(greatest(len(w) - 4, 0))) AS t(i)),
              sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
              inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                        FROM grams a JOIN grams b
                          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                        GROUP BY 1, 2),
              pairs AS (SELECT d1, d2 FROM inter
                        JOIN sizes s1 ON s1.doc_id = d1
                        JOIN sizes s2 ON s2.doc_id = d2
                        WHERE inter::DOUBLE / (s1.sz + s2.sz - inter) >= 0.5),
              edges AS (SELECT d1 AS u, d2 AS v FROM pairs
                        UNION ALL SELECT d2, d1 FROM pairs),
              reach(a, b) AS (SELECT u, v FROM edges
                              UNION
                              SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u)
             SELECT c.doc_id,
                    least(c.doc_id, coalesce(min(r.b), c.doc_id)) AS cluster_rep,
                    least(c.doc_id, coalesce(min(r.b), c.doc_id)) <> c.doc_id AS is_dup
             FROM corpus c LEFT JOIN reach r ON r.a = c.doc_id
             GROUP BY c.doc_id ORDER BY c.doc_id""")
  )

  /** Substring-level duplicated-span coverage (Lee et al. '21 span dedup,
    * rolling-window formulation — see DedupOps.duplicatedSpans): per doc,
    * how many token positions sit inside a ≥20-token span shared with
    * another document. The mutated near-copies share (almost) their whole
    * body with their originals, so both sides of each pair should show
    * near-total coverage while unrelated docs show zero. Oracle replays
    * the identical windows/islands algorithm over string windows (hashing
    * only changes key width, not equality structure). */
  private val q204 = GQ(
    "q204_substring_spans",
    (s, dir) => DedupOps.duplicatedSpans(dupCorpus(s, dir), windowTokens = 20)
      .orderBy("doc_id"),
    Some(s"""WITH $corpusSql,
             words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') w
                       FROM corpus),
             alldocs AS (SELECT doc_id, len(w) AS n_tokens FROM words),
             wins AS (SELECT doc_id, i AS start,
                        array_to_string(w[i+1:i+20], ' ') AS wh
                      FROM words, UNNEST(range(greatest(len(w) - 19, 0))) AS t(i)),
             shared AS (SELECT wh FROM wins GROUP BY wh
                        HAVING count(DISTINCT doc_id) >= 2),
             dup AS (SELECT doc_id, start FROM wins JOIN shared USING (wh)),
             isl AS (SELECT doc_id, start,
                       CASE WHEN start > coalesce(max(start + 20) OVER
                              (PARTITION BY doc_id ORDER BY start
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                            THEN 1 ELSE 0 END AS isnew
                     FROM dup),
             isl2 AS (SELECT doc_id, start,
                        sum(isnew) OVER (PARTITION BY doc_id ORDER BY start) AS island
                      FROM isl),
             cov AS (SELECT doc_id, island, max(start + 20) - min(start) AS covered
                     FROM isl2 GROUP BY 1, 2),
             per AS (SELECT doc_id, sum(covered) AS dup_tokens FROM cov GROUP BY 1)
             SELECT a.doc_id, CAST(a.n_tokens AS BIGINT) AS n_tokens,
                    CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
                    round(coalesce(p.dup_tokens, 0)::DOUBLE / a.n_tokens + 1e-9, 4)
                      AS dup_ratio
             FROM alldocs a LEFT JOIN per p USING (doc_id)
             ORDER BY a.doc_id""")
  )

  /** Incremental near-dup detection (`DedupOps.incrementalJaccardPairs`):
    * a new ingest batch (mutated near-copies) dedups against the
    * persisted corpus shingle index — corpus TEXT is never re-read, only
    * batch prefixes probe the index. Oracle = the full-corpus Jaccard
    * join restricted to pairs touching a batch document (batch ids are
    * the ≥100000 range), which the one-sided prefix bound must equal
    * exactly. */
  /** The q209/q216/q218 ingest batch: mutated near-copies of corpus docs
    * at fresh ids ≥ 100000, so every emitted pair touches the batch. */
  private[queries] def ingestBatch(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" extra token extra2")).as("text"))
      .unionAll(d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" extra token extra3")).as("text")))

  /** Shared CTE block: the ingest batch replayed in SQL plus the exact
    * full-corpus shingle/intersection pipeline — composed into three
    * oracles (q209/q216 pair outputs, q218 survivor output). */
  private[queries] val dedupPairsCte = """WITH batch AS (SELECT doc_id + 100000 AS doc_id,
                             text || ' extra token extra2' AS text
                           FROM documents WHERE doc_id % 20 = 0
                           UNION ALL
                           SELECT doc_id + 200000, text || ' extra token extra3'
                           FROM documents WHERE doc_id % 40 = 0),
                 allc AS (SELECT doc_id, text FROM documents
                          UNION ALL SELECT * FROM batch),
                 words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') w
                           FROM allc),
                 grams AS (SELECT DISTINCT doc_id,
                             w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
                               || w[i+4] || ' ' || w[i+5] AS shingle
                           FROM words, UNNEST(range(greatest(len(w) - 4, 0))) AS t(i)),
                 sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
                 pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
                           FROM grams a JOIN grams b
                             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                           GROUP BY 1, 2)"""

  /** Batch-vs-corpus exact Jaccard restricted to pairs touching the
    * batch — the oracle both q209 (in-session index frame) and q216
    * (persisted index table) must equal. */
  private val incrementalDedupSql = s"""$dedupPairsCte
            SELECT d1, d2,
                   round(inter::DOUBLE / (s1.sz + s2.sz - inter) + 1e-9, 4) AS jaccard
            FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
            WHERE inter::DOUBLE / (s1.sz + s2.sz - inter) >= 0.5 AND d2 >= 100000
            ORDER BY d1, d2"""

  private val q209 = GQ(
    "q209_incremental_dedup",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      // NOTE: the index frame is recomputed per reference here. Both
      // materialization alternatives were measured SLOWER at sf0.1:
      // persist() (columnar cache build) and a scratch parquet
      // write+read-back (write job dominates) — the two text re-shingles
      // are the cheapest evaluation at gate scale. At 100 TB production
      // reads an already-persisted index table instead (q216).
      val corpusGrams = DedupOps.shingleTable(d, 5)
      DedupOps.incrementalJaccardPairs(corpusGrams, ingestBatch(d),
          n = 5, threshold = 0.5)
        .orderBy("d1", "d2")
    },
    Some(incrementalDedupSql)
  )

  /** Persisted near-dup index (`DedupIndex`): corpus shingle postings as
    * an unpartitioned GraftTable with the shingle size in
    * TBLPROPERTIES, REOPENED from storage and probed by the same mutated
    * ingest batch — the production form of q209, where corpus text is
    * shingled once at build time and never re-read per batch. Must equal
    * q209's oracle exactly; append maintenance and the n-recovery
    * contract are spec-pinned (DedupIndexSpec). */
  private val q216 = GQ(
    "q216_dedup_index_table",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val path = Scratch.dir("dedupidx")
      graft.text.DedupIndex.build(d, path, n = 5)
      val reopened = graft.tables.GraftTable.load(s, path)
      graft.text.DedupIndex.dedupBatch(reopened, ingestBatch(d), threshold = 0.5)
        .orderBy("d1", "d2")
    },
    Some(incrementalDedupSql)
  )

  /** Character-level fuzzy self-join (`FuzzyJoin.selfPairs`): all pairs
    * of 24-char document prefixes within edit distance 2, found via
    * PassJoin segment filtering (never all-pairs) + exact levenshtein
    * verification. Planted single-substitution mutants guarantee matches;
    * the oracle is the naive all-pairs levenshtein join. */
  private val q212 = GQ(
    "q212_fuzzy_edit_join",
    (s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), substring(lower(trim(col("text"))), 1, 24).as("s"))
      val mutated = base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("x"), substring(col("s"), 2, 23)).as("s"))
      graft.text.FuzzyJoin.selfPairs(base.unionAll(mutated), k = 2)
        .orderBy("d1", "d2")
    },
    Some("""WITH t AS (SELECT doc_id, substr(lower(trim(text)), 1, 24) AS s
                       FROM documents WHERE doc_id % 5 = 0),
                 allt AS (SELECT * FROM t
                          UNION ALL
                          SELECT doc_id + 100000, 'x' || substr(s, 2, 23)
                          FROM t WHERE doc_id % 50 = 0)
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(levenshtein(a.s, b.s) AS BIGINT) AS ed
            FROM allt a JOIN allt b ON a.doc_id < b.doc_id
            WHERE levenshtein(a.s, b.s) <= 2
            ORDER BY d1, d2""")
  )

  /** Quality-filter funnel with per-rule attribution (`TextOps
    * .rejectRule`): the C4/CCNet curation report — which rule, in fixed
    * priority order, rejected each document ('kept' for survivors). The
    * per-doc attribution pins every rule boundary (token floor, char
    * ceiling, punctuation ratio, stopword presence) against the oracle's
    * replay; funnel counts are a GROUP BY away. */
  /** The q221/q223 shared oracle replay of [[TextOps.rejectRule]]'s
    * fixed-priority ladder (defaults: minTokens=10, maxChars=500,
    * maxPunctRatio=0.1, English stopwords). */
  private val rejectRuleSql =
    """CASE WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 10
              THEN 'too_short'
            WHEN length(text) > 500 THEN 'too_long'
            WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                 / greatest(length(text)::DOUBLE, 1.0) > 0.1
              THEN 'high_punct'
            WHEN (CASE WHEN ' '||lower(text)||' ' LIKE '% the %' THEN 1 ELSE 0 END
                + CASE WHEN ' '||lower(text)||' ' LIKE '% and %' THEN 1 ELSE 0 END
                + CASE WHEN ' '||lower(text)||' ' LIKE '% of %' THEN 1 ELSE 0 END
                + CASE WHEN ' '||lower(text)||' ' LIKE '% to %' THEN 1 ELSE 0 END
                + CASE WHEN ' '||lower(text)||' ' LIKE '% in %' THEN 1 ELSE 0 END) = 0
              THEN 'no_stopwords'
            ELSE 'kept' END"""

  private val q221 = GQ(
    "q221_filter_funnel",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        TextOps.rejectRule(col("text")).as("reject_rule"))
      .withColumn("kept", col("reject_rule") === "kept")
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, reject_rule, reject_rule = 'kept' AS kept FROM (
              SELECT doc_id, $rejectRuleSql AS reject_rule
              FROM documents) ORDER BY doc_id""")
  )

  /** End-to-end curation pipeline (quality funnel → exact dedup → hash
    * split → per-split stats): the composition every training-data run
    * executes as one job. Each stage is an already-gated operator
    * ([[TextOps.rejectRule]] q221, [[DedupOps.exactDedup]] q73, the
    * q199 multiplicative-hash split), chained so the whole flow is ONE
    * declarative plan — the funnel verdict rides the scan, dedup is the
    * single keyed shuffle, the split is a projection, and the final
    * report is a 3-group aggregate. The oracle replays the full chain,
    * so a stage reordering or a survivor-selection drift anywhere in
    * the pipeline shifts the per-split counts and hash-mismatches. */
  private val q223 = GQ(
    "q223_curation_pipeline",
    (s, dir) => {
      val kept = docs(s, dir).select(col("doc_id"), col("text"))
        .filter(TextOps.rejectRule(col("text")) === "kept")
      val bucket = (col("doc_id") * lit(2654435761L)) % lit(4294967296L) % 100
      DedupOps.exactDedup(kept)
        .select(col("text"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCountWs(col("text"))).cast("long").as("n_tokens"),
          round(avg(length(col("text"))) + lit(1e-9), 2).as("avg_chars"))
        .orderBy("split")
    },
    Some(s"""WITH kept AS (SELECT doc_id, text FROM (
                SELECT doc_id, text, $rejectRuleSql AS reject_rule
                FROM documents) WHERE reject_rule = 'kept'),
              ded AS (SELECT min(doc_id) AS doc_id, text
                      FROM kept GROUP BY text),
              spl AS (SELECT text,
                        CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 80
                               THEN 'train'
                             WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90
                               THEN 'val'
                             ELSE 'test' END AS split
                      FROM ded)
            SELECT split, count(*) AS n_docs,
                   CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+')))
                     AS BIGINT) AS n_tokens,
                   round(avg(length(text)) + 1e-9, 2) AS avg_chars
            FROM spl GROUP BY split ORDER BY split""")
  )

  /** Asymmetric containment dedup (`DedupOps.containmentPairs`): the
    * quote-inclusion detector Jaccard can't see — a planted corpus where
    * every 25th document also appears as a 15-word prefix copy, which is
    * fully contained in its source (containment 1.0) while the source is
    * NOT contained in it (the asymmetry the one-direction output pins).
    * The oracle replays shingling, the ordered-pair intersection, and
    * the |a∩b|/|a| ratio for every direction that clears 0.8. */
  private val q225 = GQ(
    "q225_containment_pairs",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val contained = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          array_join(slice(TextOps.words(col("text")), 1, 15), " ").as("text"))
      DedupOps.containmentPairs(d.unionAll(contained), n = 5, threshold = 0.8)
        .orderBy("contained_id", "container_id")
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents
                            UNION ALL
                            SELECT doc_id + 100000,
                              array_to_string(
                                (string_split_regex(lower(trim(text)), '\s+'))[1:15], ' ')
                            FROM documents WHERE doc_id % 25 = 0),
                 words AS (SELECT doc_id,
                             string_split_regex(lower(trim(text)), '\s+') w
                           FROM corpus),
                 grams AS (SELECT DISTINCT doc_id,
                             w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' '
                               || w[i+4] || ' ' || w[i+5] AS shingle
                           FROM words, UNNEST(range(greatest(len(w) - 4, 0))) AS t(i)),
                 sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
                 op AS (SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
                          count(*) AS inter
                        FROM grams a JOIN grams b
                          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
                        GROUP BY 1, 2)
            SELECT contained_id, container_id,
                   round(inter::DOUBLE / s1.sz + 1e-9, 4) AS containment
            FROM op JOIN sizes s1 ON s1.doc_id = contained_id
            WHERE inter::DOUBLE / s1.sz >= 0.8
            ORDER BY contained_id, container_id""")
  )

  /** Corpus-trained bigram LM surprisal (`LmScore.bigramSurprisal`):
    * the CCNet perplexity-bucket quality signal, self-contained — the
    * model IS the corpus's own bigram counts with add-0.5 smoothing.
    * The oracle retrains the model and rescores every document in SQL,
    * so a drifted count, a wrong smoothing denominator, or a dropped
    * bigram shifts a surprisal and hash-mismatches. */
  private val q226 = GQ(
    "q226_lm_surprisal",
    (s, dir) => graft.text.LmScore.bigramSurprisal(docs(s, dir))
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id,
                         string_split_regex(lower(trim(text)), '\s+') AS w
                       FROM documents),
                 pairs AS (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
                           FROM w, UNNEST(range(greatest(len(w) - 1, 0))) AS t(i)),
                 cb AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
                 cu AS (SELECT w1, count(*) AS c FROM pairs GROUP BY 1),
                 v AS (SELECT count(DISTINCT t) AS v FROM (
                         SELECT UNNEST(w) AS t FROM w))
            SELECT p.doc_id,
                   round(avg(-log2((cb.c + 0.5) / (cu.c + 0.5 * v.v))) + 1e-9, 4)
                     AS surprisal,
                   count(*) AS n_bigrams
            FROM pairs p JOIN cb USING (w1, w2) JOIN cu USING (w1)
                 CROSS JOIN v
            GROUP BY p.doc_id ORDER BY p.doc_id""")
  )

  /** Bloom-membership exact dedup (`BloomDedup`): the corpus summarized
    * as a persisted Bloom filter over text fingerprints; an ingest batch
    * of exact copies (+300000 ids) and novel near-misses (+400000 ids,
    * suffixed text) probes the REOPENED filter — corpus never shuffled,
    * candidates broadcast into the exact verify join. Output is the
    * exact batch-vs-corpus duplicate pair set (the filter only
    * pre-filters; fpp can't leak), which the oracle recomputes as a
    * plain normalized-text join. */
  private val q227 = GQ(
    "q227_bloom_dedup",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val batch = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 400000).as("doc_id"),
            concat(col("text"), lit(" zz novel zz")).as("text")))
      val path = Scratch.dir("bloomidx")
      graft.text.BloomDedup.build(d, path)
      val bf = graft.text.BloomDedup.load(graft.tables.GraftTable.load(s, path))
      graft.text.BloomDedup.dedupBatch(bf, d, batch)
        .orderBy("b_id", "c_id")
    },
    Some("""WITH batch AS (SELECT doc_id + 300000 AS doc_id, text
                           FROM documents WHERE doc_id % 10 = 0
                           UNION ALL
                           SELECT doc_id + 400000, text || ' zz novel zz'
                           FROM documents WHERE doc_id % 7 = 0)
            SELECT b.doc_id AS b_id, c.doc_id AS c_id
            FROM batch b JOIN documents c
              ON regexp_replace(lower(trim(b.text)), '\s+', ' ', 'g')
               = regexp_replace(lower(trim(c.text)), '\s+', ' ', 'g')
            ORDER BY b_id, c_id""")
  )

  /** Corpus-derived subword tokenization (`Subword.tokenizeStats`): build
    * the top-40 character-n-gram vocabulary (lengths 2–4, count-desc /
    * gram-asc tie-break) in one vocabulary-bounded shuffle, then greedy
    * longest-match tokenize every word map-side against the broadcast
    * vocab (WordPiece apply, Wu et al. '16). The oracle replays the WHOLE
    * chain in SQL: n-gram counting, the top-K cut, per-position match
    * lengths via per-length vocab joins, the greedy walk as a recursive
    * boundary-reachability CTE (pos 0 is a boundary; pos p+ml(p) is
    * reachable from boundary p), token re-slicing, and the md5 of the
    * space-joined subtoken stream — so a drifted vocab entry, a walk
    * off-by-one, or a broken tie-break hash-mismatches per document. */
  private val q262 = GQ(
    "q262_subword_tokenize",
    (s, dir) => graft.text.Subword.tokenizeStats(docs(s, dir), topK = 40)
      .orderBy("doc_id"),
    Some("""WITH RECURSIVE
            docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
                     FROM documents),
            w AS (SELECT doc_id, CAST(t.i AS INT) AS widx, ws[CAST(t.i AS INT) + 1] AS word
                  FROM docs, UNNEST(range(len(ws))) AS t(i)
                  WHERE len(ws[CAST(t.i AS INT) + 1]) > 0),
            g AS (SELECT substr(w.word, CAST(p.i AS INT) + 1, CAST(l.L AS INT)) AS gram
                  FROM w,
                       UNNEST([2, 3, 4]) AS l(L),
                       UNNEST(range(greatest(len(w.word) - CAST(l.L AS INT) + 1, 0))) AS p(i)),
            v AS (SELECT gram, count(*) AS n FROM g GROUP BY 1),
            topk AS (SELECT gram, len(gram) AS gl FROM v ORDER BY n DESC, gram LIMIT 40),
            dw AS (SELECT DISTINCT word FROM w),
            dwp AS (SELECT dw.word, CAST(p.i AS INT) AS pos
                    FROM dw, UNNEST(range(len(dw.word))) AS p(i)),
            mp AS (SELECT dwp.word, dwp.pos,
                          greatest(CASE WHEN t4.gram IS NOT NULL THEN 4 ELSE 1 END,
                                   CASE WHEN t3.gram IS NOT NULL THEN 3 ELSE 1 END,
                                   CASE WHEN t2.gram IS NOT NULL THEN 2 ELSE 1 END) AS ml
                   FROM dwp
                   LEFT JOIN topk t4 ON t4.gl = 4 AND t4.gram = substr(dwp.word, dwp.pos + 1, 4)
                   LEFT JOIN topk t3 ON t3.gl = 3 AND t3.gram = substr(dwp.word, dwp.pos + 1, 3)
                   LEFT JOIN topk t2 ON t2.gl = 2 AND t2.gram = substr(dwp.word, dwp.pos + 1, 2)),
            walk AS (SELECT word, 0 AS pos FROM dw
                     UNION ALL
                     SELECT wk.word, wk.pos + mp.ml
                     FROM walk wk JOIN mp ON mp.word = wk.word AND mp.pos = wk.pos
                     WHERE wk.pos + mp.ml <= len(wk.word)),
            wt AS (SELECT walk.word, walk.pos, substr(walk.word, walk.pos + 1, mp.ml) AS tok
                   FROM walk JOIN mp ON mp.word = walk.word AND mp.pos = walk.pos),
            wj AS (SELECT word, count(*) AS n_tok, string_agg(tok, ' ' ORDER BY pos) AS toks
                   FROM wt GROUP BY 1)
            SELECT w.doc_id, count(*) AS n_words,
                   CAST(sum(wj.n_tok) AS BIGINT) AS n_subtok,
                   round(CAST(sum(wj.n_tok) AS DOUBLE) / count(*) + 1e-9, 6) AS fertility,
                   md5(string_agg(wj.toks, ' ' ORDER BY w.widx)) AS subtok_hash
            FROM w JOIN wj ON wj.word = w.word
            GROUP BY 1 ORDER BY 1""")
  )

  /** Shared BPE-training oracle CTE chain: word-frequency dict, char
    * segmentation, then `n` unrolled merge iterations — each = pair
    * counts as a positional self-join, the (count desc, pair asc)
    * argmax, and the left-to-right skip-2 merge pass as a recursive
    * walk whose step advances 2 on a match and 1 otherwise. seg`n` is
    * the final segmentation; m0..m`n-1` the learned merges. */
  private def bpeCtes(n: Int): String = {
    val step = (k: Int) => s"""
      pc$k AS (SELECT a.tok AS l, b.tok AS r, CAST(sum(wf.f) AS BIGINT) AS c
               FROM seg$k a JOIN seg$k b ON b.word = a.word AND b.pos = a.pos + 1
               JOIN wf ON wf.word = a.word GROUP BY 1, 2),
      m$k AS (SELECT l, r, c FROM pc$k ORDER BY c DESC, l, r LIMIT 1),
      wk$k AS (SELECT word, 0 AS p FROM dw
               UNION ALL
               SELECT w.word,
                      w.p + CASE WHEN a.tok = m.l AND b.tok IS NOT DISTINCT FROM m.r
                                 THEN 2 ELSE 1 END
               FROM wk$k w
               JOIN seg$k a ON a.word = w.word AND a.pos = w.p
               LEFT JOIN seg$k b ON b.word = w.word AND b.pos = w.p + 1
               CROSS JOIN m$k m),
      seg${k + 1} AS (SELECT w.word,
                      CAST(row_number() OVER (PARTITION BY w.word ORDER BY w.p) AS INT) - 1 AS pos,
                      CASE WHEN a.tok = m.l AND b.tok IS NOT DISTINCT FROM m.r
                           THEN m.l || m.r ELSE a.tok END AS tok
               FROM wk$k w
               JOIN seg$k a ON a.word = w.word AND a.pos = w.p
               LEFT JOIN seg$k b ON b.word = w.word AND b.pos = w.p + 1
               CROSS JOIN m$k m)"""
    s"""WITH RECURSIVE
        docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
                 FROM documents),
        w AS (SELECT doc_id, CAST(t.i AS INT) AS widx, ws[CAST(t.i AS INT) + 1] AS word
              FROM docs, UNNEST(range(len(ws))) AS t(i)
              WHERE len(ws[CAST(t.i AS INT) + 1]) > 0),
        wf AS (SELECT word, count(*) AS f FROM w GROUP BY 1),
        dw AS (SELECT word FROM wf),
        seg0 AS (SELECT dw.word, CAST(p.i AS INT) AS pos,
                        substr(dw.word, CAST(p.i AS INT) + 1, 1) AS tok
                 FROM dw, UNNEST(range(len(dw.word))) AS p(i)),
        ${(0 until n).map(step).mkString(",")}"""
  }

  /** BPE merge-rule learning (`Bpe.train`): the trainer itself is
    * oracle-gated — the oracle re-learns all three merges in SQL
    * (frequency-weighted adjacent-pair counts, the deterministic
    * argmax, the skip-2 merge pass as a recursive walk), so a drifted
    * count weight, a broken tie-break, or an overlap-handling bug in
    * the merge pass changes a learned rule and hash-mismatches. */
  private val q265 = GQ(
    "q265_bpe_train",
    (s, dir) => graft.text.Bpe.mergeTable(
      s, graft.text.Bpe.train(docs(s, dir), nMerges = 3)).orderBy("rank"),
    Some(s"""${bpeCtes(3)}
            SELECT 1 AS rank, l AS lhs, r AS rhs, c AS pair_count FROM m0
            UNION ALL SELECT 2, l, r, c FROM m1
            UNION ALL SELECT 3, l, r, c FROM m2
            ORDER BY rank""")
  )

  /** BPE encode at scale (`Bpe.tokenStats`): per-doc token counts,
    * fertility, and the md5 of the subtoken stream under the 3-rule
    * table q265 learns — a shuffle-free broadcast-ranks projection. The
    * oracle replays training AND derives the final segmentation from
    * the walk chain, so the gate pins encode == training segmentation
    * end-to-end (BpeSpec covers the rank-order encode separately). */
  private val bpeStatsOracle = s"""${bpeCtes(3)},
            wj AS (SELECT word, count(*) AS n_tok,
                          string_agg(tok, ' ' ORDER BY pos) AS toks
                   FROM seg3 GROUP BY 1)
            SELECT w.doc_id, count(*) AS n_words,
                   CAST(sum(wj.n_tok) AS BIGINT) AS n_subtok,
                   round(CAST(sum(wj.n_tok) AS DOUBLE) / count(*) + 1e-9, 6) AS fertility,
                   md5(string_agg(wj.toks, ' ' ORDER BY w.widx)) AS subtok_hash
            FROM w JOIN wj ON wj.word = w.word
            GROUP BY 1 ORDER BY 1"""

  private val q266 = GQ(
    "q266_bpe_tokenize",
    (s, dir) => graft.text.Bpe.tokenStats(
        docs(s, dir), graft.text.Bpe.train(docs(s, dir), nMerges = 3))
      .orderBy("doc_id"),
    Some(bpeStatsOracle)
  )

  /** Tokenizer-artifact lifecycle (`Bpe.saveMerges`/`loadMerges`): the
    * q214-style persisted-index contract for the tokenizer — train once,
    * persist the merge table as a GraftTable (merge count in
    * TBLPROPERTIES), reopen COLD, and encode the corpus from the loaded
    * ranks without retraining or corpus re-access. Oracle identical to
    * q266: a drifted rank order, a lost row, or a deserialization bug in
    * the reopened table changes a token boundary and hash-mismatches. */
  private val q267 = GQ(
    "q267_bpe_table_encode",
    (s, dir) => {
      val path = Scratch.dir("bpetable")
      val merges = graft.text.Bpe.train(docs(s, dir), nMerges = 3)
      graft.text.Bpe.saveMerges(s, path, merges)
      val loaded = graft.text.Bpe.loadMerges(
        graft.tables.GraftTable.load(s, path))
      graft.text.Bpe.tokenStats(docs(s, dir), loaded).orderBy("doc_id")
    },
    Some(bpeStatsOracle)
  )

  /** Blocklist phrase scan (`Blocklist.scan`): broadcast Aho–Corasick
    * automaton over the corpus — one left-to-right pass matches EVERY
    * blocklist phrase, O(|text| + matches) per doc regardless of list
    * size. The list deliberately nests `que` ⊂ `query` ⊂ `slow query`
    * so the automaton's output links (containment at one position) and
    * failure transitions are what the oracle's brute-force position
    * enumeration checks, not just the happy path. */
  private val q268 = GQ(
    "q268_blocklist_scan",
    (s, dir) => graft.text.Blocklist.scan(docs(s, dir),
        Seq("merge batch", "spark", "customer", "slow query", "query", "que"))
      .orderBy("doc_id", "phrase"),
    Some("""WITH ph AS (SELECT * FROM (VALUES ('merge batch'), ('spark'),
                          ('customer'), ('slow query'), ('query'), ('que'))
                        AS t(phrase)),
            d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
            hits AS (SELECT doc_id, phrase, count(*) AS n_hits
                     FROM d, ph, UNNEST(range(len(t))) AS p(i)
                     WHERE substr(t, CAST(p.i AS INT) + 1, len(phrase)) = phrase
                     GROUP BY 1, 2)
            SELECT doc_id, phrase, n_hits
            FROM hits ORDER BY doc_id, phrase""")
  )

  /** Canonical text cleaning (`TextOps.cleanText`): strip markup → NFC
    * compose → control-chars-to-spaces → whitespace collapse → trim,
    * the WET-extraction stage before any downstream signal. The gate
    * plants all three dirt classes deterministically (markup wrap on
    * id≡0 mod 3, a decomposed `e`+COMBINING ACUTE on id≡0 mod 5, a tab
    * + space run on id≡0 mod 7 — ids hit every subset incl. all three)
    * and the oracle replays the mutation AND the cleaning rule chain
    * step-for-step, pinning rule ORDER and the NFC composition tables
    * (JDK Normalizer vs DuckDB nfc_normalize) via the md5 of the
    * cleaned text. */
  private val q269 = GQ(
    "q269_text_normalize",
    (s, dir) => {
      val raw = docs(s, dir)
        .withColumn("raw",
          when(col("doc_id") % 3 === 0,
            concat(lit("<p id=\"x\">"), col("text"), lit("</p>")))
            .otherwise(col("text")))
        .withColumn("raw",
          when(col("doc_id") % 5 === 0,
            // DECOMPOSED accent (e + U+0301) — NFC must compose it
            concat(col("raw"), lit(" café"))).otherwise(col("raw")))
        .withColumn("raw",
          when(col("doc_id") % 7 === 0,
            concat(col("raw"), lit("\tx  y"))).otherwise(col("raw")))
      raw.select(col("doc_id"), length(col("raw")).as("n_chars_raw"),
          graft.text.TextOps.cleanText(col("raw")).as("clean"))
        .select(col("doc_id"), col("n_chars_raw"),
          length(col("clean")).as("n_chars_clean"),
          md5(col("clean")).as("clean_hash"))
        .orderBy("doc_id")
    },
    Some("""WITH r1 AS (SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN '<p id="x">' || text || '</p>'
                        ELSE text END AS r FROM documents),
            r2 AS (SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN r || ' cafe' || chr(769)
                        ELSE r END AS r FROM r1),
            r3 AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN r || chr(9) || 'x  y'
                        ELSE r END AS raw FROM r2),
            c AS (SELECT doc_id, len(raw) AS n_chars_raw,
                   trim(regexp_replace(regexp_replace(
                     nfc_normalize(regexp_replace(raw, '<[^>]*>', '', 'g')),
                     '[\x00-\x1f]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
                  FROM r3)
            SELECT doc_id, n_chars_raw, len(clean) AS n_chars_clean,
                   md5(clean) AS clean_hash
            FROM c ORDER BY doc_id""")
  )

  /** Charset / entropy quality stats (`TextOps.charEntropy`): Shannon
    * bits-per-char (the gibberish / encoded-blob / template-spam
    * signal) plus character-class counts, all as one zero-shuffle scan
    * projection — a per-(doc, char) shuffle would move every character
    * of the corpus; the histogram lives inside the row. The oracle
    * rebuilds each doc's histogram relationally and recomputes the
    * same -Σ p·log2 p, pinning the definition (natural-log ratio, not
    * DuckDB's entropy() aggregate, whose base/normalization is its
    * own). */
  private val q271 = GQ(
    "q271_charset_entropy",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        round(TextOps.charEntropy(col("text")) + lit(1e-9), 4)
          .as("char_entropy"),
        (length(col("text")) -
          length(regexp_replace(lower(col("text")), "[a-z]", "")))
          .as("n_letters"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "\\s", "")))
          .as("n_spaces"))
      .withColumn("n_other",
        col("n_chars") - col("n_letters") - col("n_spaces"))
      .orderBy("doc_id"),
    Some("""WITH d AS (SELECT doc_id, text FROM documents),
            ch AS (SELECT doc_id, substr(text, CAST(t.i AS INT) + 1, 1) AS c
                   FROM d, UNNEST(range(len(text))) AS t(i)),
            hist AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
            tot AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS t FROM hist GROUP BY 1),
            e AS (SELECT hist.doc_id,
                         -sum((n / t) * ln(n / t)) / ln(2) AS ent
                  FROM hist JOIN tot ON tot.doc_id = hist.doc_id
                  GROUP BY 1)
            SELECT d.doc_id, len(d.text) AS n_chars,
                   round(e.ent + 1e-9, 4) AS char_entropy,
                   len(d.text) - len(regexp_replace(lower(d.text), '[a-z]', '', 'g')) AS n_letters,
                   len(d.text) - len(regexp_replace(d.text, '\s', '', 'g')) AS n_spaces,
                   len(regexp_replace(lower(d.text), '[a-z]', '', 'g'))
                     - (len(d.text) - len(regexp_replace(d.text, '\s', '', 'g'))) AS n_other
            FROM d JOIN e ON e.doc_id = d.doc_id
            ORDER BY d.doc_id""")
  )

  /** Bag-of-words fingerprint dedup (`TextOps.bagFingerprint`): the
    * order-insensitive axis of the exact-dedup matrix — word-PERMUTED
    * copies (scrambled re-posts, templated reorderings) share a sorted-
    * multiset fingerprint while every position-sensitive fingerprint
    * and most shingles differ. The gate plants reversed-word copies of
    * every 10th doc and the oracle replays sort-join-hash-group,
    * proving each permuted copy collapses onto its source (min-id
    * survivor, n_copies = 2). One keyed shuffle on the fingerprint. */
  private val q272 = GQ(
    "q272_bag_dedup",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val corpus = d.unionAll(
        d.filter(col("doc_id") % 10 === 0)
          // offset far above any generated scale (ScaleGen emits 5000·m
          // ids; m1000 = 5M — a 500k offset would collide planted ids
          // with real docs and pollute the min-id survivor semantics)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            concat_ws(" ", reverse(split(lower(trim(col("text"))), "\\s+")))
              .as("text")))
      corpus
        .select(col("doc_id"), TextOps.bagFingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000000,
                     array_to_string(list_reverse(string_split_regex(lower(trim(text)), '\s+')), ' ')
              FROM documents WHERE doc_id % 10 = 0),
            fp AS (SELECT doc_id,
                          md5(array_to_string(list_sort(string_split_regex(lower(trim(text)), '\s+')), ' ')) AS f
                   FROM corpus)
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM fp GROUP BY f ORDER BY doc_id""")
  )

  /** Curation pipeline v2 — the round-15 stages composed as ONE
    * declarative plan: canonical cleaning (q269's rule chain) →
    * Aho–Corasick blocklist gate (q268's automaton as a scalar filter)
    * → order-insensitive bag dedup (q272's multiset fingerprint, min-id
    * survivor via min_by so no join-back) → per-domain funnel report
    * (raw / blocked / kept / surviving tokens). Two keyed shuffles
    * total (the fingerprint group and the domain rollup; the funnel and
    * kept branches meet in a domain-keyed join over domain-cardinality
    * rows). The oracle replays every stage — cleaning chain, brute-force
    * blocklist position counts, sort→hash→min survivor, the left-join
    * funnel — so a drifted rule ANYWHERE in the composition shifts a
    * count and hash-mismatches. */
  private val q273 = GQ(
    "q273_curation_v2",
    (s, dir) => {
      val phrases = Seq("spark", "slow query")
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
          graft.text.TextOps.cleanText(col("text")).as("clean"))
        .withColumn("hits",
          graft.text.Blocklist.hitCount(col("clean"), phrases, s))
      val funnel = base.groupBy("lang").agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("n_blocked"))
      val surv = base.filter(col("hits") === 0)
        .select(col("doc_id"), col("lang"),
          graft.text.TextOps.bagFingerprint(col("clean")).as("fp"),
          graft.text.TextOps.tokenCountWs(col("clean")).cast("long").as("ntok"))
        .groupBy("fp")
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(col("ntok"), col("doc_id")).as("ntok"))
      val kept = surv.groupBy("lang").agg(
        count(lit(1)).as("n_kept"), sum("ntok").as("n_tokens"))
      funnel.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_raw"), col("n_blocked"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
        .orderBy("lang")
    },
    Some("""WITH base AS (SELECT doc_id, lang,
                   trim(regexp_replace(regexp_replace(
                     nfc_normalize(regexp_replace(text, '<[^>]*>', '', 'g')),
                     '[\x00-\x1f]', ' ', 'g'), '\s+', ' ', 'g')) AS clean
                 FROM documents),
            ph AS (SELECT * FROM (VALUES ('spark'), ('slow query')) AS t(p)),
            hits AS (SELECT b.doc_id, count(*) AS n
                     FROM base b, ph, UNNEST(range(len(b.clean))) AS t(i)
                     WHERE substr(lower(trim(b.clean)), CAST(t.i AS INT) + 1, len(ph.p)) = ph.p
                     GROUP BY 1),
            hb AS (SELECT base.*, coalesce(hits.n, 0) AS nh
                   FROM base LEFT JOIN hits ON hits.doc_id = base.doc_id),
            funnel AS (SELECT lang, count(*) AS n_raw,
                              CAST(sum(CASE WHEN nh > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
                       FROM hb GROUP BY 1),
            fp AS (SELECT doc_id, lang,
                          md5(array_to_string(list_sort(string_split_regex(lower(trim(clean)), '\s+')), ' ')) AS f,
                          len(string_split_regex(lower(trim(clean)), '\s+')) AS ntok
                   FROM hb WHERE nh = 0),
            surv AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
            sv AS (SELECT fp.lang, fp.ntok FROM fp JOIN surv ON surv.doc_id = fp.doc_id),
            kept AS (SELECT lang, count(*) AS n_kept, CAST(sum(ntok) AS BIGINT) AS n_tokens
                     FROM sv GROUP BY 1)
            SELECT f.lang, f.n_raw, f.n_blocked,
                   coalesce(k.n_kept, 0) AS n_kept,
                   coalesce(k.n_tokens, 0) AS n_tokens
            FROM funnel f LEFT JOIN kept k ON k.lang = f.lang
            ORDER BY f.lang""")
  )

  /** Content-defined chunk dedup (`CdcChunk`): the shifted-content axis
    * of the dedup matrix — a planted near-copy PREPENDS one token to
    * every 20th doc, which misaligns every fixed window but only
    * perturbs CDC chunks up to the first hash boundary; the gate
    * reports, per planted pair, how many distinct chunks survive the
    * shift. The oracle replays the whole pipeline relationally —
    * per-token polynomial hash (q78's list_reduce recurrence), the
    * mod-8 boundary rule, cumulative chunk assignment, ordered
    * string_agg re-join, md5, and the pair join — so a cut-rule drift,
    * an off-by-one span, or a lost trailing chunk shifts a count and
    * hash-mismatches. Chunking is a pure scan projection; the one
    * corpus-scale shuffle is the chunk-hash group. */
  private val q275 = GQ(
    "q275_cdc_dedup",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val corpus = d.unionAll(
        d.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            concat(lit("zzshifted "), col("text")).as("text")))
      val ch = graft.text.CdcChunk.chunks(corpus)
      graft.text.CdcChunk.sharedChunks(ch, minShared = 1)
        .filter(col("d2") === col("d1") + 1000000000L)
        .select(col("d1").as("doc_id"), col("n_shared"),
          col("n_chunks_1"), col("n_chunks_2"))
        .orderBy("doc_id")
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents
                            UNION ALL
                            SELECT doc_id + 1000000000, 'zzshifted ' || text
                            FROM documents WHERE doc_id % 20 = 0),
            d AS (SELECT doc_id,
                         [w FOR w IN string_split_regex(lower(trim(text)), '\s+') IF len(w) > 0] AS ws
                  FROM corpus),
            tok AS (SELECT doc_id, CAST(t.i AS INT) AS pos, ws[CAST(t.i AS INT) + 1] AS tok
                    FROM d, UNNEST(range(len(ws))) AS t(i)),
            flg AS (SELECT doc_id, pos, tok,
                           CASE WHEN list_reduce(
                               list_prepend(CAST(0 AS BIGINT), [ascii(c) FOR c IN string_split(tok, '')]),
                               (acc, c) -> (acc * 31 + c) % 72057594037927936) % 8 = 3
                             THEN 1 ELSE 0 END AS b
                    FROM tok),
            asg AS (SELECT doc_id, pos, tok,
                           coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
                    FROM flg),
            ch AS (SELECT doc_id, cid, md5(string_agg(tok, ' ' ORDER BY pos)) AS h
                   FROM asg GROUP BY 1, 2),
            cd AS (SELECT DISTINCT doc_id, h FROM ch),
            tot AS (SELECT doc_id, count(*) AS n FROM cd GROUP BY 1),
            pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
                      FROM cd a JOIN cd b ON a.h = b.h AND a.doc_id < b.doc_id
                      GROUP BY 1, 2)
            SELECT p.d1 AS doc_id, p.n_shared, t1.n AS n_chunks_1, t2.n AS n_chunks_2
            FROM pairs p
            JOIN tot t1 ON t1.doc_id = p.d1
            JOIN tot t2 ON t2.doc_id = p.d2
            WHERE p.d2 = p.d1 + 1000000000 AND p.n_shared >= 1
            ORDER BY p.d1""")
  )

  override def queries: Seq[GQ] =
    Seq(q70, q71, q72, q73, q74, q75, q76, q77, q78, q79, q202, q204, q209,
      q212, q216, q221, q223, q225, q226, q227, q262, q265, q266, q267, q268,
      q269, q271, q272, q273, q275)
}
