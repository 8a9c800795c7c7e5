package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import Q._

/**
 * Training-set preparation operators: deterministic dataset splitting
 * and context-window sequence packing — the two steps between a cleaned
 * corpus (q_corpus_pipeline) and a tokenizer/training run.
 *
 * Both are oracle-checked: the split hash rides on md5 (the one hash
 * both engines share) and packing is integer window arithmetic.
 */
object TrainPrep {

  /** 0..255 from the first two hex nibbles of md5(doc_id) — the
   * deterministic split hash. Content-independent (id-based) so
   * re-running after a text fix never migrates documents between
   * splits. */
  private[graft] val splitByteExpr =
    """(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16
      | + instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1"""
      .stripMargin

  private[graft] val splitByteSql =
    """(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      | + strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1"""
      .stripMargin

  val defs: Vector[QueryDef] = Vector(

    // ---- PII scrub / redaction ----------------------------------------
    // The mandatory cleaning stage before any text reaches a training
    // run: detect + replace email addresses and phone-shaped tokens,
    // report per-doc redaction counts and the md5 of the scrubbed text
    // (so the oracle pins the REPLACEMENT bytes, not just the counts).
    // The synthetic corpus carries no PII, so both engines first enrich
    // each document with the same deterministic id-derived contact
    // block — the redaction semantics (regex classes, global replace,
    // replacement tokens) are the operator under test. Pure map-side
    // string work: no shuffle at any scale.
    QueryDef("q_pii_scrub",
      (s, dir) => {
        val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
        val phoneRe = """\b555-[0-9]{1,6}\b"""
        val enriched = rd(s, dir, "documents")
          .withColumn("raw",
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@mail.example or admin"),
              col("doc_id").cast("string"), lit("@corp.test phone 555-"),
              (col("doc_id") % 10000).cast("string"), lit(" backup 555-0199"),
              // doc-varying phone count (2..4): the count columns must
              // not be corpus-wide constants or they'd pin nothing
              expr("repeat(' spare 555-12', CAST(doc_id % 3 AS INT))")))
        enriched.select(col("doc_id"),
            size(expr(
              "regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}', 0)"))
              .cast("long").as("n_emails"),
            size(expr("regexp_extract_all(raw, '\\\\b555-[0-9]{1,6}\\\\b', 0)"))
              .cast("long").as("n_phones"),
            md5(regexp_replace(
              regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>")).as("scrub_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH e AS (
             |  SELECT doc_id,
             |    text || ' contact user' || doc_id::VARCHAR
             |      || '@mail.example or admin' || doc_id::VARCHAR
             |      || '@corp.test phone 555-' || (doc_id % 10000)::VARCHAR
             |      || ' backup 555-0199'
             |      || repeat(' spare 555-12', (doc_id % 3)::INT) AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(raw,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             |    AS n_emails,
             |  CAST(len(regexp_extract_all(raw, '\b555-[0-9]{1,6}\b')) AS BIGINT)
             |    AS n_phones,
             |  md5(regexp_replace(regexp_replace(raw,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b555-[0-9]{1,6}\b', '<PHONE>', 'g')) AS scrub_md5
             |FROM e ORDER BY doc_id""".stripMargin)),

    // ---- deterministic 80/10/10 train/val/test split -------------------
    // Hash-based assignment (byte < 204 → train, < 230 → val, else test):
    // stable under reruns and resharding, no coordination, no sampling
    // state — the only split mechanism that works at 100 TB. Verified by
    // value: both engines compute the same md5 nibbles.
    QueryDef("q_train_split",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("sb", expr(splitByteExpr))
          .withColumn("split",
            when(col("sb") < 204, "train")
              .when(col("sb") < 230, "val").otherwise("test"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH d AS (SELECT lang, n_chars, $splitByteSql AS sb FROM documents)
              |SELECT CASE WHEN sb < 204 THEN 'train'
              |            WHEN sb < 230 THEN 'val' ELSE 'test' END AS split,
              |  lang, COUNT(*) AS n_docs,
              |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)),

    // ---- context-window sequence packing -------------------------------
    // Pack documents into 2048-token context windows, per source shard:
    // bin = exclusive-prefix-sum of token counts DIV 2048. Packing is
    // inherently order-sensitive, so the cumsum runs within source
    // (pack within shard, shards in parallel) rather than as a global
    // single-partition sort. r16: the per-source prefix sum is computed
    // HIERARCHICALLY (the q_pps_sample shape) — a flat
    // Window.partitionBy(source) over raw docs buffers an ENTIRE
    // source's rows in one task (sources are few; at 100 TB that is
    // the window-straggler class the r16 inventory pin exists to
    // catch). Instead: per-(source, block) partial sums, block prefix
    // offsets (a per-source window over the 100×-smaller block
    // aggregate; apply the same step again if even that is large),
    // then a within-block running sum over ≤ 100 rows. doc_id DIV 100
    // is monotone in doc_id, so block order extends doc order and the
    // hierarchical sum is VALUE-IDENTICAL to the flat window — the
    // flat cumsum the oracle runs is the same function, which is the
    // point of the check. Output is per-bin occupancy.
    QueryDef("q_pack_sequences",
      (s, dir) => {
        val d = rd(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("blk", expr("doc_id DIV 100"))
        // PRICED COST (r16 review): the hierarchical shape reads the
        // corpus TWICE — once for the block partials below (whose
        // exchange map-side-combines to block rows, never corpus) and
        // once as the join input. That is the same trade HotColdFreq's
        // cost model documents for the routed entries: two corpus
        // scans + skew-BOUNDED exchanges vs the flat window's one scan
        // + one skew-UNBOUNDED exchange (one task buffering an entire
        // source). An explicit shared repartition was tried and
        // rejected: column pruning narrows the two branches
        // differently, so the exchanges never canonicalize equal (no
        // reuse), and the repartition forfeits the map-side combine.
        val bs = d.groupBy("source", "blk").agg(sum(col("n_tokens")).as("bw"))
        val wOff = Window.partitionBy("source").orderBy("blk")
          .rowsBetween(Window.unboundedPreceding, -1)
        val boff = bs.withColumn("boff",
          coalesce(sum(col("bw")).over(wOff), lit(0L)))
        // the join and the within-block window share the (source, blk)
        // hash partitioning — one corpus exchange, block-bounded sorts.
        // NULL-SAFE keys: groupBy and the windows all treat NULL as a
        // real group, so a null-unsafe equi-join here would silently
        // DROP null-source / null-doc_id rows that the flat window and
        // the oracle both keep (r16 review finding; the gate corpus
        // has no nulls, but "value-identical to the flat window" must
        // hold for nullable inputs too)
        val wIn = Window.partitionBy("source", "blk").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        d.join(boff.select(col("source").as("__s"), col("blk").as("__b"),
            col("boff")),
            col("source") <=> col("__s") && col("blk") <=> col("__b"))
          .drop("__s", "__b")
          .withColumn("cum_before",
            col("boff") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
          .withColumn("bin", (col("cum_before") / 2048).cast("long"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bin_tokens"))
          .orderBy("source", "bin")
      },
      Some("""WITH t AS (
             |  SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT source, n_tokens,
             |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source
             |          ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |          AS cum_before
             |      FROM t)
             |SELECT source, CAST(cum_before // 2048 AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
             |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin)),

    // ---- deterministic stratified sampling (corpus mixing) -------------
    // The data-mixing stage: draw a fixed per-stratum budget (50 docs
    // per (lang, source) cell) uniformly-at-random but DETERMINISTICALLY
    // — rank each cell by md5(doc_id) (a uniform permutation both
    // engines compute identically) and keep the first 50. Stable under
    // reruns and resharding, needs no sampling state, and under- full
    // cells keep everything — exactly how a 100 TB mixer hits target
    // source proportions. One ranking window per cell, map-side hash;
    // output pins membership via count + char mass + the md5 frontier.
    QueryDef("q_stratified_sample",
      (s, dir) => {
        val w = Window.partitionBy("lang", "source")
          .orderBy(col("rk_hash"), col("doc_id"))
        // budget cut via TopKPerKey first (map-side partial prune) so a
        // hot cell never sorts in one window partition; the rank window
        // then runs over ≤ 50 rows per cell
        graft.plans.TopK.perKey(
          rd(s, dir, "documents")
            .withColumn("rk_hash", md5(col("doc_id").cast("string"))),
          Seq("lang", "source"), Seq(col("rk_hash").asc, col("doc_id").asc), 50)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 50)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("n_chars")).as("sum_chars"),
            max(col("rk_hash")).as("hash_frontier"))
          .orderBy("lang", "source")
      },
      Some("""WITH r AS (
             |  SELECT lang, source, doc_id, n_chars,
             |    md5(CAST(doc_id AS VARCHAR)) AS rk_hash,
             |    ROW_NUMBER() OVER (PARTITION BY lang, source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT lang, source, COUNT(*) AS n_sampled,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  MAX(rk_hash) AS hash_frontier
             |FROM r WHERE rn <= 50
             |GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // ---- overlapping document chunking (RAG / context-window prep) ----
    // Each document becomes ceil(n/24) chunks of up to 32 tokens with an
    // 8-token overlap (stride 24) — the standard retrieval/training
    // chunker. One generator expression per row (explode of the stride
    // sequence), no shuffle until the final harness ORDER BY; chunk
    // identity is pinned by md5 so the oracle verifies chunk CONTENT,
    // not just counts.
    QueryDef("q_chunk_docs",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("start",
            explode(expr("sequence(0, greatest(size(toks) - 1, 0), 24)")))
          .select(col("doc_id"),
            (col("start") / 24).cast("int").as("chunk_idx"),
            least(lit(32), size(col("toks")) - col("start")).cast("int")
              .as("chunk_len"),
            md5(concat_ws(" ", expr("slice(toks, start + 1, 32)")))
              .as("chunk_md5"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
             |           FROM documents),
             |c AS (SELECT doc_id, ts,
             |        unnest(range(0, greatest(len(ts), 1), 24)) AS start
             |      FROM t)
             |SELECT doc_id,
             |  CAST(start // 24 AS INTEGER) AS chunk_idx,
             |  CAST(least(32, len(ts) - start) AS INTEGER) AS chunk_len,
             |  md5(array_to_string(ts[start + 1 : start + 32], ' ')) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- cross-document segment dedup (boilerplate removal) -----------
    // The C4/RefinedWeb "exact line dedup" stage adapted to the corpus's
    // newline-free text: cut each document into aligned 10-token
    // segments, keep only the globally FIRST occurrence of each distinct
    // segment (ordered by doc_id, then position), and rebuild the
    // document from its surviving segments. Segments are digested to md5
    // map-side — the global first-occurrence shuffle carries only
    // (32-byte digest, doc_id, seg_idx), never text, so at 100 TB the
    // wide stage is digest-sized like q_dedup_exact. The per-doc rebuild
    // joins the kept-index list back to `documents` on doc_id (one
    // equi-join where text travels once — it is the output). The oracle
    // pins the REBUILT BYTES per document via md5, not just counts.
    QueryDef("q_seg_dedup",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
        val segs = docs.select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, greatest(size(toks) - 1, 0), 10),
            |          st -> md5(concat_ws(' ', slice(toks, st + 1, 10))))"""
            .stripMargin)).as(Seq("seg_idx", "h")))
        // first occurrence via groupBy-min(struct), NOT a window over h:
        // a boilerplate segment repeated across millions of docs would
        // make one giant window partition (windows get no AQE skew
        // split), while min(struct) partial-aggregates the hot digest
        // map-side and the join back meets a ONE-row-per-h keeper side
        // (AQE skew-join handles the candidate side)
        val keeper = segs.groupBy("h")
          .agg(min(struct(col("doc_id"), col("seg_idx"))).as("k"))
        val flags = segs.join(keeper, "h")
          .withColumn("is_first",
            col("doc_id") === col("k.doc_id") &&
              col("seg_idx") === col("k.seg_idx"))
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("int").as("n_segs"),
            sum(when(col("is_first"), 0).otherwise(1)).cast("int")
              .as("n_removed"),
            sort_array(collect_list(when(col("is_first"), col("seg_idx"))))
              .as("kept"))
        flags.join(docs.select("doc_id", "toks"), "doc_id")
          .select(col("doc_id"), col("n_segs"), col("n_removed"),
            md5(concat_ws(" ", expr(
              "flatten(transform(kept, i -> slice(toks, i * 10 + 1, 10)))")))
              .as("kept_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
             |           FROM documents),
             |s AS (SELECT doc_id, CAST(st // 10 AS INTEGER) AS seg_idx,
             |        md5(array_to_string(ts[st + 1 : st + 10], ' ')) AS h
             |      FROM (SELECT doc_id, ts,
             |              unnest(range(0, greatest(len(ts), 1), 10)) AS st
             |            FROM t)),
             |w AS (SELECT doc_id, seg_idx,
             |        ROW_NUMBER() OVER (PARTITION BY h
             |          ORDER BY doc_id, seg_idx) AS rn
             |      FROM s),
             |f AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_segs,
             |        CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS INTEGER)
             |          AS n_removed,
             |        list(seg_idx ORDER BY seg_idx) FILTER (rn = 1) AS kept
             |      FROM w GROUP BY doc_id)
             |SELECT f.doc_id, n_segs, n_removed,
             |  md5(COALESCE(array_to_string(
             |    flatten([ts[i * 10 + 1 : i * 10 + 10]
             |             for i in COALESCE(kept, [])]), ' '), ''))
             |    AS kept_md5
             |FROM f JOIN t ON f.doc_id = t.doc_id
             |ORDER BY f.doc_id""".stripMargin)),

    // ---- temperature-weighted mixture sampling (data mixing) ----------
    // The multi-source mixing stage of a training run: sample source s
    // with budget ∝ n_s^(1/2) (temperature T=2 up-weights small sources,
    // the multilingual-mixing shape) instead of q_stratified_sample's
    // flat per-cell cap. Budgets derive from exact arithmetic only —
    // sqrt/division/floor are correctly-rounded IEEE ops on identical
    // inputs, and the weight SUM goes through exact decimals — so both
    // engines compute identical integer budgets; membership is then the
    // md5-rank frontier (rerun- and reshard-stable, no sampling state).
    // Source stats are a tiny broadcast; the corpus is scanned once.
    QueryDef("q_mixture_sample",
      (s, dir) => {
        val docs = rd(s, dir, "documents")
        val perSrc = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
          .withColumn("w", sqrt(col("n_docs").cast("double")))
        // sum_w DERIVES from the per-source frame via an unpartitioned
        // window (identical decimal-exact sum): a separate perSrc.agg
        // branch re-runs the corpus scan — pruning diverges the
        // subplans, ReuseExchange can't fire (r14 executed-plan audit:
        // three documents scans here); the window input is the
        // source-cardinality aggregate, a handful of rows
        val budgets = perSrc
          .withColumn("sum_w",
            sum(col("w").cast(DecimalType(28, 12))).over(Window.partitionBy())
              .cast("double"))
          .withColumn("budget",
            greatest(lit(1), floor(lit(300.0) * (col("w") / col("sum_w")))
              .cast("int")))
          .select("source", "n_docs", "budget")
        // membership = the first `budget` docs per source in md5-rank
        // order. A plain rank window would sort each source in ONE
        // partition (a hot source at 100 TB = one giant sort, and
        // windows get no AQE skew split), so the candidate set is first
        // cut to the 300-row budget CEILING per source by the custom
        // TopKPerKey operator — map-side partial prune before the
        // exchange bounds both the shuffle and the final sort at
        // 300 × map-partitions rows per source; the exact rank window
        // then runs over ≤ 300 rows per source.
        val ranked = graft.plans.TopK.perKey(
          docs.withColumn("rk", md5(col("doc_id").cast("string"))),
          Seq("source"), Seq(col("rk").asc, col("doc_id").asc), 300)
        val w = Window.partitionBy("source").orderBy(col("rk"), col("doc_id"))
        ranked
          .withColumn("rn", row_number().over(w))
          .join(broadcast(budgets), "source")
          .filter(col("rn") <= col("budget"))
          .groupBy("source", "n_docs", "budget")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("sum_chars"),
            max(col("rk")).as("hash_frontier"))
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
             |           FROM documents GROUP BY source),
             |wt AS (SELECT source, n_docs,
             |         sqrt(CAST(n_docs AS DOUBLE)) AS w
             |       FROM c),
             |t AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE)
             |        AS sum_w FROM wt),
             |b AS (SELECT source, n_docs,
             |        CAST(GREATEST(1, CAST(FLOOR(300.0 * (w / sum_w))
             |                              AS INTEGER)) AS INTEGER)
             |          AS budget
             |      FROM wt, t),
             |r AS (SELECT source, doc_id, n_chars,
             |        md5(CAST(doc_id AS VARCHAR)) AS rk,
             |        ROW_NUMBER() OVER (PARTITION BY source
             |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |      FROM documents)
             |SELECT b.source, b.n_docs, b.budget,
             |  CAST(COUNT(*) AS BIGINT) AS n_kept,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  MAX(rk) AS hash_frontier
             |FROM r JOIN b ON r.source = b.source
             |WHERE rn <= budget
             |GROUP BY b.source, b.n_docs, b.budget
             |ORDER BY b.source""".stripMargin)),

    // ---- text normalization (canonical form before dedup/tokenize) -----
    // The first transform of every text pipeline: lowercase, strip
    // non-alphanumerics, collapse whitespace runs, trim. Normalizing
    // BEFORE exact/near dedup is what makes "same text modulo case and
    // punctuation" hash to the same digest. The synthetic corpus is
    // already clean, so both engines first build the same deterministic
    // messy variant (case-flipped prefix, doubled spaces, punctuation,
    // an id-bearing fragment) — the normalization semantics are the
    // operator under test, pinned through md5 of the normalized bytes.
    // Pure map-side string work: no shuffle at any scale. The same
    // normal form is exposed as [[normalize]] for reuse and for the
    // idempotence law in TrainExportSpec (normalize ∘ normalize =
    // normalize).
    QueryDef("q_text_normalize",
      (s, dir) => {
        val raw = concat(upper(substring(col("text"), 1, 24)), lit("  <p>"),
          col("text"), lit("  !!!  #"), col("doc_id").cast("string"), lit(" "))
        rd(s, dir, "documents")
          .withColumn("norm", normalize(raw))
          .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
            length(col("norm")).cast("int").as("n_chars_norm"),
            size(split(col("norm"), " ")).cast("int").as("n_tokens_norm"))
          .orderBy("doc_id")
      },
      Some("""WITH raw AS (SELECT doc_id,
             |  upper(substring(text, 1, 24)) || '  <p>' || text || '  !!!  #'
             |    || CAST(doc_id AS VARCHAR) || ' ' AS r
             |  FROM documents),
             |n AS (SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(r), '[^a-z0-9 ]', ' ', 'g'),
             |                      ' +', ' ', 'g')) AS norm
             |  FROM raw)
             |SELECT doc_id, md5(norm) AS norm_md5,
             |  CAST(length(norm) AS INTEGER) AS n_chars_norm,
             |  CAST(len(string_split(norm, ' ')) AS INTEGER) AS n_tokens_norm
             |FROM n ORDER BY doc_id""".stripMargin)),

    // ---- blocklist term filter (safety/keyword screening) --------------
    // The standard safety screen: flag documents containing any term
    // from a curated blocklist, report WHICH terms matched (the audit
    // trail a filtering decision needs) and a keep/drop bit. Matching is
    // whole-token (split, not substring — 'sparkle' must not match
    // 'spark'). The blocklist rides into the plan as an array literal —
    // the broadcast-by-construction shape; a 100 TB run with a large
    // blocklist broadcasts the term set identically. Map-side only: no
    // shuffle, the filter column prunes to (text) at the scan.
    QueryDef("q_blocklist_filter",
      (s, dir) => {
        val blocked = Seq("merge", "spark", "stream", "vector")
        rd(s, dir, "documents")
          .withColumn("hits", array_sort(array_intersect(
            array_distinct(split(col("text"), " ")),
            array(blocked.map(lit): _*))))
          .select(col("doc_id"),
            size(col("hits")).cast("int").as("n_blocked"),
            (size(col("hits")) === 0).as("kept"),
            concat_ws(",", col("hits")).as("blocked_terms"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             |  list_sort(list_intersect(list_distinct(string_split(text, ' ')),
             |    ['merge', 'spark', 'stream', 'vector'])) AS hits
             |  FROM documents)
             |SELECT doc_id, CAST(len(hits) AS INTEGER) AS n_blocked,
             |  len(hits) = 0 AS kept,
             |  COALESCE(array_to_string(hits, ','), '') AS blocked_terms
             |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- deterministic global shuffle + sharding (training export) -----
    // The last step before a training run: break source/time locality by
    // laying the corpus out in a pseudo-random but REPRODUCIBLE order,
    // sharded for parallel readers. Order rides on md5(doc_id) (the one
    // hash both engines share): shard = hash-prefix mod nShards, position
    // = rank of the full hash within the shard — every rerun produces the
    // identical layout (no Math.random, no partition-order dependence),
    // which is what makes a training run resumable and an ablation
    // comparable. Scale shape: shard assignment is map-side; the
    // per-shard rank is a window PARTITION BY shard — at 100 TB the
    // shard count is the output-file count (thousands), so each window
    // partition is one shard's worth and sorts locally after one hash
    // shuffle; no global sort ever happens. (The write path pairs this
    // with repartition(shard) + sortWithinPartitions — q_partitioned_write
    // covers the sink side.)
    QueryDef("q_global_shuffle",
      (s, dir) => {
        val rk = md5(col("doc_id").cast("string"))
        val w = Window.partitionBy("shard").orderBy(col("rk"), col("doc_id"))
        rd(s, dir, "documents")
          .select(col("doc_id"), rk.as("rk"))
          .withColumn("shard", pmod(ascii(substring(col("rk"), 1, 1)), lit(4)).cast("int"))
          .withColumn("pos", row_number().over(w).cast("int"))
          .select(col("doc_id"), col("shard"), col("pos"), col("rk"))
          .orderBy("shard", "pos")
      },
      Some("""WITH r AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk
             |           FROM documents),
             |s AS (SELECT doc_id, rk,
             |        CAST(ascii(substring(rk, 1, 1)) % 4 AS INTEGER) AS shard
             |      FROM r)
             |SELECT doc_id, shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rk, doc_id)
             |       AS INTEGER) AS pos,
             |  rk
             |FROM s ORDER BY shard, pos""".stripMargin)),

    // ---- leakage-safe target encoding ---------------------------------
    // The categorical-feature encoder for tabular training sets: each
    // row's category is replaced by the label mean of the OTHER rows in
    // its category — leave-one-out, so a row never sees its own label
    // (naive mean encoding leaks the target and inflates validation
    // scores), plus the production variant smoothed toward the global
    // prior (m=10) that tames high-variance rare categories. Shape: one
    // 5-row grouped aggregate and a 1-row global aggregate, both
    // broadcast back onto the fact scan — map-side partials, no fact
    // shuffle, no per-row window; the same two-pass broadcast-stats
    // shape as q_winsorize, which is exactly how it stays one scan at
    // 100 TB. Arithmetic: counts/sums are exact BIGINTs; each output is
    // a fixed double expression tree evaluated identically by both
    // engines (every operand cast explicitly, one division per term).
    // Not QueryDef.sql: its SQL plan adds a nested-loop join (sf0.1).
    QueryDef("q_target_encode",
      (s, dir) => {
        val o = rd(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority"),
          (col("o_orderstatus") === "F").cast("long").as("label"))
        val cat0 = o.groupBy(col("o_orderpriority").as("cat"))
          .agg(count(lit(1)).as("n"), sum("label").as("pos"))
        // the global prior DERIVES from the 5-row category frame
        // (gn = Σn, gpos = Σpos — exact integer sums), attached via an
        // unpartitioned window OVER THAT TINY FRAME: a separate
        // o.agg(...) branch re-runs the fact scan (pruning diverges
        // the canonicalized subplans, ReuseExchange can't fire — the
        // r14 executed-plan audit read three orders scans here), and
        // the single-partition window is 5 rows post-aggregate
        val wAll = Window.partitionBy()
        val cat = cat0
          .withColumn("gpos", sum("pos").over(wAll))
          .withColumn("gn", sum("n").over(wAll))
        o.join(broadcast(cat), col("o_orderpriority") === col("cat"))
          .select(col("o_orderkey"), col("o_orderpriority"), col("label"),
            ((col("pos") - col("label")).cast("double")
              / (col("n") - 1).cast("double")).as("loo_enc"),
            (((col("pos") - col("label")).cast("double")
              + lit(10.0) * (col("gpos").cast("double") / col("gn").cast("double")))
              / ((col("n") - 1).cast("double") + lit(10.0))).as("sm_enc"))
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority,
             |        CAST(o_orderstatus = 'F' AS BIGINT) AS label FROM orders),
             |c AS (SELECT o_orderpriority AS cat, COUNT(*) AS n,
             |        SUM(label) AS pos FROM o GROUP BY 1),
             |g AS (SELECT SUM(label) AS gpos, COUNT(*) AS gn FROM o)
             |SELECT o.o_orderkey, o.o_orderpriority, o.label,
             |  CAST(pos - label AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS loo_enc,
             |  (CAST(pos - label AS DOUBLE)
             |     + 10.0 * (CAST(gpos AS DOUBLE) / CAST(gn AS DOUBLE)))
             |    / (CAST(n - 1 AS DOUBLE) + 10.0) AS sm_enc
             |FROM o JOIN c ON o.o_orderpriority = c.cat CROSS JOIN g
             |ORDER BY o.o_orderkey""".stripMargin)),

    // ---- purged / embargoed time split ---------------------------------
    // The time-series leakage guard q_train_split's hash split cannot
    // give: train strictly precedes validation IN TIME, and a 2-month
    // embargo window between them is dropped outright, so features
    // computed with lookback/lookahead near the boundary (rolling means,
    // as-of joins) cannot straddle it. Fixed cut dates make the split a
    // pure map-side predicate — a partition-pruned scan when the table
    // is date-partitioned at 100 TB; no shuffle beyond the 3-row agg.
    // The per-split (min, max) bounds are IN the output so the oracle
    // itself pins the no-overlap invariant; revenue rides the exact
    // decimal grid.
    QueryDef.sql("q_purged_split",
      s"""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice
         |           FROM orders)
         |SELECT CASE WHEN d < DATE '2000-01-01' THEN 'train'
         |            WHEN d < DATE '2000-03-01' THEN 'embargo'
         |            ELSE 'val' END AS split,
         |  COUNT(*) AS n, MIN(d) AS d_min, MAX(d) AS d_max,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM o GROUP BY 1 ORDER BY split""".stripMargin),

    // ---- class weights for imbalanced training -------------------------
    // The two standard reweighting schemes a classifier head trains
    // with: inverse-frequency (total/(k·n_c) — weights average to 1
    // over classes) and median-frequency balancing (median class count
    // over n_c, the segmentation-literature variant that mutes the
    // giant-class gradient without exploding rare ones). One
    // class-keyed partial agg (map-side combine, |classes| rows
    // shuffled), then a 1-row stats frame broadcast back onto the tiny
    // class frame. Every weight is a single IEEE division of exact
    // integers (the median of integer counts interpolates at the
    // dyadic 0.5), so both engines emit identical doubles.
    QueryDef("q_class_weights",
      (s, dir) => {
        val cls = rd(s, dir, "embeddings").select("label")
          .groupBy("label").agg(count(lit(1)).as("n"))
        val stats = cls.agg(sum("n").as("total"), count(lit(1)).as("k"),
          expr("percentile(n, 0.5D)").as("med"))
        cls.crossJoin(broadcast(stats))
          .select(col("label"), col("n"),
            (col("total").cast("double") / (col("k") * col("n")).cast("double"))
              .as("inv_weight"),
            (col("med") / col("n").cast("double")).as("mf_weight"))
          .orderBy("label")
      },
      Some("""WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
             |s AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS k,
             |        quantile_cont(n, 0.5) AS med FROM c)
             |SELECT label, n,
             |  CAST(total AS DOUBLE) / CAST(k * n AS DOUBLE) AS inv_weight,
             |  med / CAST(n AS DOUBLE) AS mf_weight
             |FROM c CROSS JOIN s ORDER BY label""".stripMargin)),

    // ---- k-fold cross-validation assignment ----------------------------
    // The CV companion to q_train_split's holdout: every document lands
    // in exactly one of 5 folds by the same id-derived md5 byte (folds
    // are disjoint and exhaustive BY CONSTRUCTION — no bookkeeping join
    // can ever double-assign), stable under text edits and re-runs, and
    // embarrassingly map-side: fold choice is a per-row expression, the
    // only shuffle is the 5-row rollup. Per-fold doc and char masses in
    // the output let the oracle pin balance; a trainer derives fold k's
    // train set as "fold <> k", so no materialized k-way copy exists
    // anywhere (the 5× storage a naive CV split would burn at 100 TB).
    QueryDef("q_cv_folds",
      (s, dir) => {
        rd(s, dir, "documents")
          .withColumn("fold", expr(s"CAST(($splitByteExpr) % 5 AS INT)"))
          .groupBy("fold")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            countDistinct(col("lang")).as("n_langs"))
          .orderBy("fold")
      },
      Some(s"""WITH d AS (SELECT lang, n_chars,
              |    CAST(($splitByteSql) % 5 AS INTEGER) AS fold
              |  FROM documents)
              |SELECT fold, COUNT(*) AS n_docs,
              |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
              |  COUNT(DISTINCT lang) AS n_langs
              |FROM d GROUP BY fold ORDER BY fold""".stripMargin))
  )

  /** Canonical text normal form (see q_text_normalize): lowercase →
   * non-[a-z0-9 ] to space → collapse space runs → trim. Idempotent by
   * construction (the image contains only [a-z0-9] and single spaces). */
  def normalize(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))
}
