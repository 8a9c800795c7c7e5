package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/**
 * Corpus-curation operators (round 7): the quality-rule / governance /
 * layout-audit layer a web-scale training pipeline runs between raw
 * ingest and tokenization. All are pure declarative DataFrame plans —
 * map-side string/array work plus keyed aggregation — so Catalyst keeps
 * pushdown, pruning, and whole-stage codegen everywhere; nothing here
 * shuffles text except where the operator's semantics require a keyed
 * exchange of already-reduced rows.
 *
 * Float-determinism policy per [[Q]]: cross-row double sums are
 * decimal-ized; the only raw-double arithmetic is single IEEE ops
 * (division, sqrt, multiply) over operands both engines compute
 * bit-identically.
 */
object Curation {

  val defs: Vector[QueryDef] = Vector(

    // ---- Gopher/C4-style quality-rule suite ----------------------------
    // The standard pre-training keep/drop gate (word-count bounds, mean
    // word length band, stopword floor, alphabetic-word fraction,
    // max-token-repetition cap) evaluated per document with per-rule
    // bits and the conjunctive keep decision. Entirely map-side lambda
    // work over the token array — zero shuffle before the harness ORDER
    // BY, so at 100 TB it runs at scan speed and feeds a partition-local
    // filter. The repetition rule uses the token_max_run kernel
    // (sort-in-row + longest run, O(n log n) per doc, codegen): the
    // lambda form it replaced — array_max(transform(array_distinct,
    // … filter …)) — was O(distinct × n) per doc with both lambdas
    // interpreted, fine on 100-word gate docs but ~10¹⁰ comparisons in
    // ONE ROW for a 100k-token document (SCALING.md records the
    // knee; TokenMaxRunSpec pins value parity against the lambda form
    // on the real corpus).
    QueryDef("q_gopher_rules",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_words", size(col("toks")).cast("long"))
          .withColumn("sum_wlen",
            expr("aggregate(toks, 0L, (acc, x) -> acc + length(x))"))
          .withColumn("mean_wlen",
            col("sum_wlen").cast("double") / col("n_words"))
          .withColumn("n_stop", size(expr(
            "filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to'))")).cast("long"))
          .withColumn("n_alpha", size(expr(
            "filter(toks, t -> t RLIKE '^[a-z]+$')")).cast("long"))
          .withColumn("max_tok_freq",
            graft.functions.TokenMaxRun.maxRunCol(col("toks")))
          .select(col("doc_id"), col("n_words"), col("mean_wlen"),
            (col("n_words") >= 10 && col("n_words") <= 100000).as("r_wordcount"),
            (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0).as("r_wordlen"),
            (col("n_stop") >= 2).as("r_stopword"),
            (col("n_alpha").cast("double") / col("n_words") >= 0.8).as("r_alpha"),
            (col("max_tok_freq").cast("double") / col("n_words") <= 0.2).as("r_rep"))
          .withColumn("keep",
            col("r_wordcount") && col("r_wordlen") && col("r_stopword") &&
              col("r_alpha") && col("r_rep"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(ts) AS BIGINT) AS n_words,
             |    CAST(list_sum(list_transform(ts, x -> len(x))) AS DOUBLE)
             |      / len(ts) AS mean_wlen,
             |    CAST(len(list_filter(ts, t -> t IN ('the', 'a', 'of', 'and', 'to')))
             |      AS BIGINT) AS n_stop,
             |    CAST(len(list_filter(ts, t -> regexp_full_match(t, '[a-z]+')))
             |      AS BIGINT) AS n_alpha,
             |    CAST(list_max(list_transform(list_distinct(ts),
             |      t -> len(list_filter(ts, x -> x = t)))) AS BIGINT) AS max_tok_freq
             |  FROM t)
             |SELECT doc_id, n_words, mean_wlen,
             |  (n_words >= 10 AND n_words <= 100000) AS r_wordcount,
             |  (mean_wlen >= 3.0 AND mean_wlen <= 10.0) AS r_wordlen,
             |  (n_stop >= 2) AS r_stopword,
             |  (CAST(n_alpha AS DOUBLE) / n_words >= 0.8) AS r_alpha,
             |  (CAST(max_tok_freq AS DOUBLE) / n_words <= 0.2) AS r_rep,
             |  ((n_words >= 10 AND n_words <= 100000)
             |    AND (mean_wlen >= 3.0 AND mean_wlen <= 10.0)
             |    AND (n_stop >= 2)
             |    AND (CAST(n_alpha AS DOUBLE) / n_words >= 0.8)
             |    AND (CAST(max_tok_freq AS DOUBLE) / n_words <= 0.2)) AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- URL canonicalization + per-domain rollup ----------------------
    // Web-crawl pipelines dedupe and budget by NORMALIZED url / domain:
    // lowercase scheme+host, strip "www.", drop fragments and utm_*
    // tracking params, fold the pre-query trailing slash. The corpus
    // carries no urls, so both engines enrich each doc with the same
    // deterministic id-derived url first (same convention as
    // q_pii_scrub); the normalization chain is the operator under test.
    // Regexes are backref-free so the Java-regex and RE2 dialects agree.
    // Map-side chain + one keyed agg on the ~domain-cardinality rollup —
    // the shuffle carries one row per domain, never urls.
    QueryDef("q_url_normalize",
      (s, dir) => {
        val raw = rd(s, dir, "documents")
          .withColumn("url", concat(
            lit("HTTPS://WWW."), col("source"), lit(".Example.COM/p/"),
            col("doc_id").cast("string"), lit("/?utm_source=feed&id="),
            (col("doc_id") % 7).cast("string"), lit("&utm_campaign=x&ref="),
            col("source"), lit("#sec"), (col("doc_id") % 5).cast("string")))
        val norm = raw
          .withColumn("scheme", lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
          .withColumn("host0", lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/]+)", 1)))
          .withColumn("host", regexp_replace(col("host0"), "^www\\.", ""))
          .withColumn("pathq", regexp_extract(col("url"), "^[A-Za-z]+://[^/]+(/.*)$", 1))
          .withColumn("p1", regexp_replace(col("pathq"), "#.*$", ""))
          .withColumn("p2", regexp_replace(col("p1"), "utm_[A-Za-z]+=[^&#]*&?", ""))
          .withColumn("p3", regexp_replace(col("p2"), "[?&]$", ""))
          .withColumn("p4", regexp_replace(col("p3"), "/\\?", "?"))
          .withColumn("norm_url", concat(col("scheme"), lit("://"), col("host"), col("p4")))
        norm.groupBy(col("host").as("domain"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("norm_url")).as("n_uniq_urls"),
            min(col("norm_url")).as("sample_url"))
          .orderBy("domain")
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    'HTTPS://WWW.' || source || '.Example.COM/p/' || doc_id::VARCHAR
             |      || '/?utm_source=feed&id=' || (doc_id % 7)::VARCHAR
             |      || '&utm_campaign=x&ref=' || source
             |      || '#sec' || (doc_id % 5)::VARCHAR AS url
             |  FROM documents),
             |n AS (
             |  SELECT
             |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
             |      || regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1)),
             |                        '^www\.', '')
             |      AS prefix,
             |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/]+)', 1)),
             |                   '^www\.', '') AS host,
             |    regexp_replace(regexp_replace(regexp_replace(
             |      regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/]+(/.*)$', 1),
             |        '#.*$', ''),
             |      'utm_[A-Za-z]+=[^&#]*&?', '', 'g'),
             |      '[?&]$', ''),
             |      '/\?', '?') AS p4
             |  FROM raw)
             |SELECT host AS domain, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT prefix || p4) AS n_uniq_urls,
             |  MIN(prefix || p4) AS sample_url
             |FROM n GROUP BY host ORDER BY domain""".stripMargin)),

    // ---- deterministic fixed-k per-key sample (distributed reservoir) --
    // The scalable stand-in for per-group reservoir sampling: rank by a
    // keyed uniform hash and keep exactly k per key. Unlike
    // q_stratified_sample (per-cell AGGREGATE of a capped sample) this
    // returns the sample MEMBERSHIP itself — the rows a downstream eval
    // set would ship. TopKPerKey prunes map-side first (each task keeps
    // ≤ k per key before the exchange), so a hot key never funnels its
    // full row set through one partition — the 100 TB-safe shape; the
    // row_number window then orders ≤ k survivors per key.
    QueryDef("q_reservoir_sample",
      (s, dir) => {
        val w = Window.partitionBy("lang").orderBy(col("rk_hash"), col("doc_id"))
        graft.plans.TopK.perKey(
          rd(s, dir, "documents")
            .withColumn("rk_hash", md5(col("doc_id").cast("string"))),
          Seq("lang"), Seq(col("rk_hash").asc, col("doc_id").asc), 8)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 8)
          .select(col("lang"), col("rn").cast("long").as("rn"), col("doc_id"),
            col("rk_hash"))
          .orderBy("lang", "rn")
      },
      Some("""WITH r AS (
             |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk_hash,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, rk_hash
             |FROM r WHERE rn <= 8 ORDER BY lang, rn""".stripMargin)),

    // ---- temperature-scaled multilingual mixture weights ---------------
    // The standard multilingual rebalance: sampling weight ∝ p^α with
    // α = 1/2, i.e. w_l = sqrt(p_l)/Σ sqrt(p), plus the per-language
    // upsample factor w/p and expected doc budget. α = 1/2 is chosen so
    // the power is sqrt — a correctly-rounded IEEE op both engines
    // compute bit-identically (arbitrary α via pow has no such
    // guarantee). Cross-row combination uses FLOOR-BASED FIXED POINT
    // (floor(sqrt(p)·1e12) as int64), not a decimal cast: Spark's
    // double→decimal cast rounds the SHORTEST-REPR string
    // (BigDecimal.valueOf) while DuckDB rounds the exact binary value,
    // and for off-grid values like sqrt the two can disagree by one
    // decimal ulp. floor of one shared IEEE product is bit-identical
    // everywhere; the int64 sum is exact (< 2^53 up to ~9000
    // languages) and the final weights are single IEEE divisions of
    // identical operands. One tiny keyed agg — everything after the
    // count is |langs|-scale.
    QueryDef.sql("q_temperature_mix",
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        |e AS (
        |  SELECT lang, n_docs,
        |    SUM(n_docs) OVER () AS total,
        |    CAST(n_docs AS DOUBLE) / (SUM(n_docs) OVER ()) AS p,
        |    CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE) / (SUM(n_docs) OVER ()))
        |      * 1e12) AS BIGINT) AS sq
        |  FROM c),
        |f AS (
        |  SELECT lang, n_docs, total, p,
        |    CAST(sq AS DOUBLE) / CAST(SUM(sq) OVER () AS DOUBLE) AS w
        |  FROM e)
        |SELECT lang, n_docs, p, w, w / p AS upsample,
        |  CAST(FLOOR(w * CAST(total AS DOUBLE)) AS BIGINT) AS expected_docs
        |FROM f ORDER BY lang""".stripMargin),

    // ---- k-anonymity audit over quasi-identifiers ----------------------
    // Release-gate privacy check: group by the quasi-identifier tuple
    // (lang, source, size bucket) and flag every equivalence class with
    // fewer than k = 3 members — the rows a k-anonymization pass must
    // suppress or generalize. One keyed count over already-tiny tuples;
    // the shuffle carries (qi-tuple, count) only. At 100 TB the QI
    // cardinality, not the row count, bounds the reduce side.
    QueryDef("q_kanon_check",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("size_bucket", (col("n_chars") / lit(100)).cast("long"))
          .groupBy("lang", "source", "size_bucket")
          .agg(count(lit(1)).as("n"))
          .withColumn("risky", col("n") < 3)
          .orderBy("lang", "source", "size_bucket")
      },
      Some("""SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS size_bucket,
             |  COUNT(*) AS n, (COUNT(*) < 3) AS risky
             |FROM documents GROUP BY 1, 2, 3
             |ORDER BY lang, source, size_bucket""".stripMargin)),

    // ---- train/test near-dup leakage audit -----------------------------
    // The eval-integrity check q_decontaminate can't do: find near-dup
    // pairs (exact-Jaccard-verified MinHash-LSH candidates, the
    // q_neardup_pairs machinery) that STRADDLE the deterministic
    // train/val/test split — each one is a leaked eval answer. Reuses
    // the banded candidate path (never corpus²) and joins only the
    // ~|pairs| surviving rows against the md5 split assignment.
    QueryDef("q_split_leakage",
      (s, dir) => {
        val split = rd(s, dir, "documents")
          .withColumn("sb", expr(TrainPrep.splitByteExpr))
          .select(col("doc_id"),
            when(col("sb") < 204, "train").when(col("sb") < 230, "val")
              .otherwise("test").as("split"))
        // pairs from the persisted pair table (round 12) — the audit is
        // a graph-sized join against the split assignment
        graft.sources.NeardupPairsIndex.pairs(s, dir)
          .join(split.select(col("doc_id").as("a_id"), col("split").as("split_a")), "a_id")
          .join(split.select(col("doc_id").as("b_id"), col("split").as("split_b")), "b_id")
          .filter(col("split_a") =!= col("split_b"))
          .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"),
            col("split_a"), col("split_b"))
          .orderBy("a_id", "b_id")
      },
      // ORACLE CAVEAT (shared with q_neardup_pairs, its candidate
      // machinery): the Spark side emits only MinHash-LSH BAND
      // candidates (recall < 1 by construction) while this oracle
      // computes exact all-pairs Jaccard. On the current testdata every
      // >0.5 pair shares a band at all three sfs, so the gates match; if
      // a regenerated corpus ever contains a straddling pair above 0.5
      // that shares NO band, the resulting hash mismatch is LSH recall
      // behaving as designed — not a code regression. Diagnose by
      // diffing the oracle's pair set against the banded candidates.
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
              |sh AS (SELECT doc_id,
              |  list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
              |                 for i in range(1, len(ts) - 1)]) AS s
              |  FROM tok),
              |sp AS (SELECT doc_id,
              |  CASE WHEN ${TrainPrep.splitByteSql.replace("\n", " ")} < 204 THEN 'train'
              |       WHEN ${TrainPrep.splitByteSql.replace("\n", " ")} < 230 THEN 'val'
              |       ELSE 'test' END AS split
              |  FROM documents),
              |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |        len(list_intersect(a.s, b.s)) AS i,
              |        len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
              |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
              |SELECT a_id, b_id, ROUND(CAST(i AS DOUBLE) / u, 4) AS jaccard,
              |  sa.split AS split_a, sb2.split AS split_b
              |FROM p
              |JOIN sp sa ON sa.doc_id = a_id
              |JOIN sp sb2 ON sb2.doc_id = b_id
              |WHERE CAST(i AS DOUBLE) / u > 0.5 AND sa.split <> sb2.split
              |ORDER BY a_id, b_id""".stripMargin)),

    // ---- file-skipping manifest + pruning audit ------------------------
    // The data-skipping layer every 100 TB table lives on: per-file
    // (here: per ingestion-ordered 25-row chunk, the row-group analog)
    // min/max column stats, then for a concrete predicate
    // (n_chars > 500) which chunks a manifest-pruning reader SKIPS
    // outright (max < threshold ⇒ zero rows can match) versus the rows
    // it actually finds. One pass computes the stats AND the audit —
    // at scale this is the footer-stats manifest, built at write time.
    QueryDef("q_file_skipping",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("chunk", (col("doc_id") / lit(25)).cast("long"))
          .groupBy("chunk")
          .agg(min(col("n_chars")).as("min_nc"),
            max(col("n_chars")).as("max_nc"),
            count(lit(1)).as("n_docs"),
            sum(when(col("n_chars") > 500, 1L).otherwise(0L)).as("actual_hits"))
          .withColumn("skippable", col("max_nc") <= 500)
          .orderBy("chunk")
      },
      Some("""SELECT CAST(doc_id // 25 AS BIGINT) AS chunk,
             |  MIN(n_chars) AS min_nc, MAX(n_chars) AS max_nc,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS actual_hits,
             |  (MAX(n_chars) <= 500) AS skippable
             |FROM documents GROUP BY 1 ORDER BY chunk""".stripMargin)),

    // ---- decimal-exact EWMA (α = 1/2) over daily event series ----------
    // Drift/trend smoothing with a deterministic cross-engine contract:
    // the final EWMA per event_type over its daily counts. With α = 1/2
    // every weight is a dyadic rational 2^-k built by integer shift (no
    // pow — libm pow carries no cross-engine bit guarantee); each term
    // count·2^-k is EXACT in double (mantissa unchanged, exponent
    // shifted), and the cross-row sum goes through DECIMAL(38,20) where
    // dyadic values can never land on a rounding tie — so HALF_UP
    // (Spark) and round-nearest (DuckDB) agree on every term. k is
    // capped at 62 (shift-safe); beyond that the weight underflows the
    // decimal grid identically in both engines. Daily counts reduce
    // map-side; the window runs over |days| rows per type. DuckDB's
    // decimal→double cast is not correctly rounded: hence ROUND(·, 9).
    QueryDef.sql("q_ewma_smooth",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |t AS (
        |  SELECT event_type, n,
        |    CAST(CAST(cnt AS DOUBLE) /
        |      CAST(1::BIGINT << CAST(LEAST(CASE WHEN i = 1 THEN n - 1
        |        ELSE n - i + 1 END, 62) AS INTEGER) AS DOUBLE)
        |      AS DECIMAL(38,20)) AS term
        |  FROM idx)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
        |  ROUND(CAST(SUM(term) AS DOUBLE), 9) AS ewma
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- session prefix-path mining ------------------------------------
    // Behavioral sequence mining: the first-3-event path per
    // (user, week) cell, ranked by frequency — the "what do sessions
    // open with" question funnel/markov entries can't answer (funnel
    // pins one ordered pattern; markov sees only adjacent pairs).
    // The per-cell sequence is built by sorting the collected
    // (ts, event_id, type) structs — deterministic total order — and
    // the top-10 cut carries a path tie-break so LIMIT is stable.
    // Collect_list holds ≤ |events per user-week| rows (bounded by the
    // session definition, not the corpus); the path rollup shuffles
    // one short string per cell.
    QueryDef("q_session_path",
      (s, dir) => {
        events(s, dir)
          .groupBy(col("user_id"), date_trunc("week", col("ts")).as("week"))
          .agg(expr(
            """array_join(transform(slice(array_sort(
              |  collect_list(struct(ts, event_id, event_type))), 1, 3),
              |  x -> x.event_type), '>')""".stripMargin).as("path3"))
          .groupBy("path3")
          .agg(count(lit(1)).as("n_cells"))
          .orderBy(col("n_cells").desc, col("path3"))
          .limit(10)
      },
      Some("""WITH c AS (
             |  SELECT user_id, DATE_TRUNC('week', ts) AS week,
             |    array_to_string(list(event_type ORDER BY ts, event_id)[1:3], '>')
             |      AS path3
             |  FROM events GROUP BY 1, 2)
             |SELECT path3, COUNT(*) AS n_cells
             |FROM c GROUP BY path3
             |ORDER BY n_cells DESC, path3 LIMIT 10""".stripMargin)),

    // ---- per-dimension embedding health stats --------------------------
    // The whitening / drift / dead-dimension audit run before any
    // vector index is built: per dimension n, mean, variance, min, max.
    // The declared contract is FIXED-POINT at 1e-6: per-row values
    // quantize as floor(x·1e6) / floor(x²·1e6) int64 — floor of a
    // shared IEEE product is bit-identical in both engines, unlike a
    // double→decimal cast (Spark rounds the shortest-repr string,
    // DuckDB the exact binary value — they disagree ~1e-5 of the time
    // on off-grid values; this query's 128k values at sf0.1 reliably
    // hit it). Int64 sums are exact to ~2^53/1e6 ≈ 9e9 rows per dim.
    // One explode + one keyed agg whose reduce side is |dims| rows —
    // at 100 TB the shuffle carries 64 partial-sum rows per map task,
    // never vectors.
    QueryDef("q_embed_dims",
      (s, dir) => {
        rd(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .select((col("pos") + 1).cast("long").as("dim"),
            col("x").cast("double").as("xd"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("xd") * lit(1e6)).cast("long")).as("s1"),
            sum(floor(col("xd") * col("xd") * lit(1e6)).cast("long")).as("s2"),
            min(col("xd")).as("min_x"), max(col("xd")).as("max_x"))
          .select(col("dim"), col("n"),
            (col("s1").cast("double") / (col("n").cast("double") * lit(1e6)))
              .as("mean_x"),
            ((col("s2").cast("double") / (col("n").cast("double") * lit(1e6))) -
              (col("s1").cast("double") / (col("n").cast("double") * lit(1e6))) *
                (col("s1").cast("double") / (col("n").cast("double") * lit(1e6))))
              .as("var_x"),
            col("min_x"), col("max_x"))
          .orderBy("dim")
      },
      Some("""WITH e AS (
             |  SELECT generate_subscripts(embedding, 1) AS dim,
             |    CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings),
             |a AS (
             |  SELECT dim, COUNT(*) AS n,
             |    SUM(CAST(FLOOR(x * 1e6) AS BIGINT)) AS s1,
             |    SUM(CAST(FLOOR(x * x * 1e6) AS BIGINT)) AS s2,
             |    MIN(x) AS min_x, MAX(x) AS max_x
             |  FROM e GROUP BY dim)
             |SELECT CAST(dim AS BIGINT) AS dim, n,
             |  CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mean_x,
             |  CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
             |    - (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
             |      * (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)) AS var_x,
             |  min_x, max_x
             |FROM a ORDER BY dim""".stripMargin)),

    // ---- Poisson-bootstrap confidence interval -------------------------
    // Error bars at corpus scale: the Poisson bootstrap (each row draws
    // an independent Poisson(1) replication weight per replica) is THE
    // distributed bootstrap — one pass, no resample materialization,
    // B replica means from B weighted partial sums. Determinism: the
    // weight is inverse-CDF over a 16-bit integer carved from
    // md5(doc_id:replica) nibbles (the one hash both engines share) and
    // compared against fixed integer thresholds (Poisson(1) CDF × 2^16)
    // — integer compares only. The metric is integer n_chars, so every
    // replica mean is an exact-int ratio and the 5%/95% band is an
    // order-statistic pick over 32 exact values. At 100 TB this is one
    // map-side pass producing 32 (Σwx, Σw) partials.
    QueryDef("q_bootstrap_ci",
      (s, dir) => {
        def u16(e: String): String = {
          val nib = (i: Int) =>
            s"(instr('0123456789abcdef', substring(md5($e), $i, 1)) - 1)"
          s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
        }
        // Poisson(1) CDF × 65536: P(≤0)=24109, ≤1=48219, ≤2=60278,
        // ≤3=64291, ≤4=65296, else 5 (truncated tail)
        val key = "concat(CAST(doc_id AS STRING), ':', CAST(b AS STRING))"
        val reps = rd(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            explode(expr("sequence(0, 31)")).as("b"))
          .withColumn("u", expr(u16(key)))
          .withColumn("w", expr(
            """CASE WHEN u < 24109 THEN 0 WHEN u < 48219 THEN 1
              | WHEN u < 60278 THEN 2 WHEN u < 64291 THEN 3
              | WHEN u < 65296 THEN 4 ELSE 5 END""".stripMargin))
          .groupBy("b")
          .agg(sum(col("w").cast("long") * col("n_chars")).as("swx"),
            sum(col("w").cast("long")).as("sw"))
          .withColumn("mean_b", col("swx").cast("double") / col("sw"))
        val ranked = reps
          .withColumn("rk", row_number().over(
            Window.partitionBy().orderBy(col("mean_b"), col("b"))))
        val base = rd(s, dir, "documents")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"))
          .select(col("n"), (col("sx").cast("double") / col("n")).as("point_mean"))
        base.crossJoin(
          ranked.agg(
            min(when(col("rk") === 2, col("mean_b"))).as("ci_lo"),
            min(when(col("rk") === 31, col("mean_b"))).as("ci_hi"),
            count(lit(1)).as("n_replicas")))
          .select("n", "point_mean", "ci_lo", "ci_hi", "n_replicas")
      },
      Some("""WITH r AS (
             |  SELECT d.doc_id, d.n_chars, b.b,
             |    (strpos('0123456789abcdef', substring(md5(d.doc_id::VARCHAR || ':' || b.b::VARCHAR), 1, 1)) - 1) * 4096
             |    + (strpos('0123456789abcdef', substring(md5(d.doc_id::VARCHAR || ':' || b.b::VARCHAR), 2, 1)) - 1) * 256
             |    + (strpos('0123456789abcdef', substring(md5(d.doc_id::VARCHAR || ':' || b.b::VARCHAR), 3, 1)) - 1) * 16
             |    + (strpos('0123456789abcdef', substring(md5(d.doc_id::VARCHAR || ':' || b.b::VARCHAR), 4, 1)) - 1) AS u
             |  FROM documents d, (SELECT unnest(range(0, 32)) AS b) b),
             |w AS (
             |  SELECT b, CASE WHEN u < 24109 THEN 0 WHEN u < 48219 THEN 1
             |    WHEN u < 60278 THEN 2 WHEN u < 64291 THEN 3
             |    WHEN u < 65296 THEN 4 ELSE 5 END AS w, n_chars
             |  FROM r),
             |m AS (
             |  SELECT b, CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w) AS mean_b
             |  FROM w GROUP BY b),
             |rk AS (
             |  SELECT mean_b, ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rk
             |  FROM m),
             |ci AS (
             |  SELECT MIN(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
             |    MIN(CASE WHEN rk = 31 THEN mean_b END) AS ci_hi,
             |    COUNT(*) AS n_replicas
             |  FROM rk),
             |base AS (
             |  SELECT COUNT(*) AS n,
             |    CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS point_mean
             |  FROM documents)
             |SELECT n, point_mean, ci_lo, ci_hi, n_replicas
             |FROM base, ci""".stripMargin)),

    // ---- Welch two-sample test (A/B experiment readout) ----------------
    // The experimentation readout: split the corpus into two variants by
    // doc_id parity, compare mean n_chars with Welch's unequal-variance
    // t statistic. Every moment comes from exact integer sums (Σx, Σx²
    // are int64), so the t value is a fixed tree of IEEE ops over
    // identical operands in both engines — no rounding, no tolerance.
    // Single-pass conditional aggregation; at any scale this is one
    // map-side partial per variant.
    QueryDef.sql("q_ab_test",
      """WITH s AS (
        |  SELECT
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars ELSE 0 END) AS sx_a,
        |    SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars * n_chars ELSE 0 END) AS sxx_a,
        |    SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
        |    SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS sx_b,
        |    SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars * n_chars ELSE 0 END) AS sxx_b
        |  FROM documents),
        |m AS (
        |  SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |    CAST(sx_a AS DOUBLE) / n_a AS m_a,
        |    CAST(sx_b AS DOUBLE) / n_b AS m_b,
        |    (CAST(sxx_a AS DOUBLE) - (CAST(sx_a AS DOUBLE) / n_a) * CAST(sx_a AS DOUBLE))
        |      / (n_a - 1) AS var_a,
        |    (CAST(sxx_b AS DOUBLE) - (CAST(sx_b AS DOUBLE) / n_b) * CAST(sx_b AS DOUBLE))
        |      / (n_b - 1) AS var_b
        |  FROM s)
        |SELECT n_a, n_b, m_a, m_b, var_a, var_b,
        |  (m_a - m_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
        |  (abs((m_a - m_b) / sqrt(var_a / n_a + var_b / n_b)) > 1.96)
        |    AS significant
        |FROM m""".stripMargin),

    // ---- differential-privacy count release (discrete Laplace) ---------
    // The release mechanism between k-anonymity auditing and publishing:
    // per-(lang, source) document counts with discrete-Laplace noise
    // (two-sided geometric, ε = 1, sensitivity 1 for a partition count)
    // and nonnegative clamping as post-processing. The noise draw is
    // inverse-CDF over a 16-bit integer carved from md5 nibbles against
    // hard-coded cumulative thresholds (×2^16, tails folded into ±6) —
    // integer compares only, so both engines draw the identical k. The
    // deterministic hash-derived draw is what makes the MECHANISM
    // testable (sampling, sensitivity accounting, clamping); a
    // production release swaps the hash for a CSPRNG — the one line
    // that is not the operator under test. One keyed count; the noise
    // is a projection — |cells|-scale everything.
    QueryDef("q_dp_release",
      (s, dir) => {
        def u16(e: String): String = {
          val nib = (i: Int) =>
            s"(instr('0123456789abcdef', substring(md5($e), $i, 1)) - 1)"
          s"(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})"
        }
        val key = "concat('dp:', lang, ':', source)"
        val noise =
          """CASE WHEN u < 119 THEN -6 WHEN u < 323 THEN -5
            | WHEN u < 878 THEN -4 WHEN u < 2385 THEN -3
            | WHEN u < 6484 THEN -2 WHEN u < 17625 THEN -1
            | WHEN u < 47911 THEN 0 WHEN u < 59052 THEN 1
            | WHEN u < 63151 THEN 2 WHEN u < 64658 THEN 3
            | WHEN u < 65213 THEN 4 WHEN u < 65417 THEN 5
            | ELSE 6 END""".stripMargin
        rd(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"))
          .withColumn("u", expr(u16(key)))
          .withColumn("k", expr(noise))
          .select(col("lang"), col("source"),
            greatest(col("n") + col("k"), lit(0L)).as("released"),
            lit(1.0).as("epsilon"))
          .orderBy("lang", "source")
      },
      Some("""WITH c AS (
             |  SELECT lang, source, COUNT(*) AS n,
             |    (strpos('0123456789abcdef', substring(md5('dp:' || lang || ':' || source), 1, 1)) - 1) * 4096
             |    + (strpos('0123456789abcdef', substring(md5('dp:' || lang || ':' || source), 2, 1)) - 1) * 256
             |    + (strpos('0123456789abcdef', substring(md5('dp:' || lang || ':' || source), 3, 1)) - 1) * 16
             |    + (strpos('0123456789abcdef', substring(md5('dp:' || lang || ':' || source), 4, 1)) - 1) AS u
             |  FROM documents GROUP BY lang, source),
             |k AS (
             |  SELECT lang, source, n,
             |    CASE WHEN u < 119 THEN -6 WHEN u < 323 THEN -5
             |      WHEN u < 878 THEN -4 WHEN u < 2385 THEN -3
             |      WHEN u < 6484 THEN -2 WHEN u < 17625 THEN -1
             |      WHEN u < 47911 THEN 0 WHEN u < 59052 THEN 1
             |      WHEN u < 63151 THEN 2 WHEN u < 64658 THEN 3
             |      WHEN u < 65213 THEN 4 WHEN u < 65417 THEN 5
             |      ELSE 6 END AS k
             |  FROM c)
             |SELECT lang, source,
             |  CAST(GREATEST(n + k, 0) AS BIGINT) AS released,
             |  CAST(1.0 AS DOUBLE) AS epsilon
             |FROM k ORDER BY lang, source""".stripMargin)),

    // ---- top principal direction via quantized power iteration ---------
    // Distributed PCA's first component — the whitening/compression
    // primitive q_jl_project (oblivious) and q_embed_dims (per-dim only)
    // don't cover: four power-iteration rounds on the uncentered Gram
    // matrix A = Σ xxᵀ. Each round is ONE data pass: per row the scalar
    // c = x·v (the zip_with/aggregate fold the oracle replays with
    // list_dot_product — the same pinned equivalence the cosine kernels
    // use), then per-dim partials Σ floor(c·x_d·1e6) as exact int64 —
    // the fixed-point contract from q_embed_dims, so both engines
    // accumulate identical integers in any order. The 64-value
    // renormalization runs driver-side between rounds (the IVF-centroid
    // convention): η = sqrt(Σ(s_d/1e6)²) folded in dim order, v' = s/η
    // — every op a single IEEE instruction the oracle's list fold
    // mirrors. At 100 TB each round shuffles 64 longs per map task;
    // the driver holds 64 doubles.
    QueryDef("q_power_iter",
      (s, dir) => {
        val emb = rd(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xd"))
          .cache()
        val dims = 64
        def dotExpr(v: Array[Double]): String = {
          // Double.toString round-trips exactly, so the literal array
          // parses back to bit-identical doubles
          val arr = v.map(d => s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)")
            .mkString("array(", ", ", ")")
          s"aggregate(zip_with(xd, $arr, (a, b) -> a * b), 0D, (acc, y) -> acc + y)"
        }
        var v = Array.fill(dims)(0.125) // exact dyadic unit vector (64·(1/8)² = 1)
        var eta = 0.0
        for (_ <- 1 to 4) {
          val partials = emb
            .withColumn("c", expr(dotExpr(v)))
            .select(col("c"), posexplode(col("xd")).as(Seq("pos", "x")))
            .withColumn("t", floor(col("c") * col("x") * lit(1e6)).cast("long"))
            .groupBy("pos").agg(sum(col("t")).as("s"))
            .collect().map(r => r.getAs[Int]("pos") -> r.getAs[Long]("s")).toMap
          val raw = Array.tabulate(dims)(i => partials.getOrElse(i, 0L).toDouble / 1e6)
          eta = math.sqrt(raw.map(z => z * z).sum) // left fold in dim order
          v = raw.map(_ / eta)
        }
        emb.unpersist()
        import s.implicits._
        // an empty (or all-zero) corpus has no principal direction:
        // η = 0 and the renormalization is 0/0 — return the empty
        // result, never NaN loadings
        val rows =
          if (eta > 0.0) v.zipWithIndex.map { case (vd, i) => ((i + 1).toLong, vd) }.toSeq
          else Seq.empty[(Long, Double)]
        rows.toDF("dim", "loading")
          .withColumn("eigenvalue", lit(eta))
          .orderBy("dim")
      },
      Some {
        val v0 = "list_transform(range(0, 64), i -> CAST(0.125 AS DOUBLE))"
        def iter(n: Int, vPrev: String): String =
          s"""c$n AS (SELECT e.vec_id, list_dot_product(e.xd, $vPrev) AS c FROM e${if (n > 1) s", u${n - 1}" else ""}),
             |s$n AS (SELECT ex.dim, SUM(CAST(FLOOR(c$n.c * ex.x * 1e6) AS BIGINT)) AS s
             |        FROM ex JOIN c$n ON ex.vec_id = c$n.vec_id GROUP BY ex.dim),
             |v$n AS (SELECT list(CAST(s AS DOUBLE) / 1e6 ORDER BY dim) AS raw FROM s$n),
             |n$n AS (SELECT raw, sqrt(list_dot_product(raw, raw)) AS eta FROM v$n),
             |u$n AS (SELECT list_transform(raw, z -> z / eta) AS v, eta FROM n$n)""".stripMargin
        s"""WITH e AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
           |  FROM embeddings),
           |ex AS (
           |  SELECT vec_id, generate_subscripts(xd, 1) AS dim, unnest(xd) AS x
           |  FROM e),
           |${iter(1, v0)},
           |${iter(2, "u1.v")},
           |${iter(3, "u2.v")},
           |${iter(4, "u3.v")},
           |f AS (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS loading,
           |        eta FROM u4)
           |SELECT CAST(dim AS BIGINT) AS dim, loading, eta AS eigenvalue
           |FROM f ORDER BY dim""".stripMargin
      })
  )
}
