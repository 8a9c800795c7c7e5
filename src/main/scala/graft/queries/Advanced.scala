package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Q._

/**
 * Second operator wave: as-of join, scalable range join, approximate
 * distinct, SimHash dedup, language-ID, rolling-hash fingerprinting, and
 * the multimodal decode pipeline.
 *
 * Scale notes per operator are inline; the common theme is that every
 * pairwise operation is bounded by an equi-join key (user, time bucket,
 * hash band) before any non-equi predicate runs, so nothing degenerates
 * to a cross product at 100 TB.
 */
object Advanced {

  private val defsA: Vector[QueryDef] = Vector(

    // ---- as-of join: latest prior signup per purchase ----------------
    // The classic time-series as-of join expressed as a running window:
    // one shuffle on user_id, one sort — exactly the plan a dedicated
    // AsOfJoinExec would produce, with no custom operator needed.
    QueryDef("q_asof_last_signup",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        events(s, dir)
          .withColumn("last_signup_ts",
            last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "last_signup_ts")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, ts,
             |  LAST_VALUE(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS last_signup_ts
             |FROM events QUALIFY event_type = 'purchase'
             |ORDER BY event_id""".stripMargin)),

    // ---- range join: same-user event pairs within 5 minutes ----------
    // Bucketed interval join: each left event is replicated to its three
    // adjacent 5-min buckets, the join is EQUI on (user, bucket), and the
    // range predicate only filters — O(N) replication instead of the
    // O(N²)-per-user theta join the oracle runs.
    QueryDef("q_range_join_events",
      (s, dir) => {
        val e = events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"))
        val window = 300000000L // 5 min in µs
        val a = e.select(col("event_id").as("a_id"), col("user_id"),
            col("us").as("a_us"),
            explode(array((-1 to 1).map(d => col("us").divide(window).cast("long") + d): _*))
              .as("bk"))
        val b = e.select(col("event_id").as("b_id"), col("user_id"),
            col("us").as("b_us"), (col("us") / window).cast("long").as("bk"))
        a.join(b, Seq("user_id", "bk"))
          .filter(col("a_id") < col("b_id") &&
            abs(col("b_us") - col("a_us")) <= window)
          // no distinct needed: b keeps its single home bucket and a's
          // three replicas are distinct bucket values, so each (a, b)
          // pair can satisfy the bk equality in exactly one replica —
          // a distinct here was a wasted full-pair-set shuffle
          // (VERDICT r1 finding 4)
          .select(col("a_id"), col("b_id"), col("user_id"),
            (col("b_us") - col("a_us")).as("dt_us"))
          .orderBy("a_id", "b_id")
      },
      Some("""SELECT a.event_id AS a_id, b.event_id AS b_id,
             |       a.user_id AS user_id,
             |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
             |FROM events a JOIN events b
             |  ON a.user_id = b.user_id AND a.event_id < b.event_id
             | AND abs(epoch_us(b.ts) - epoch_us(a.ts)) <= 300000000
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- approximate distinct (HLL++) --------------------------------
    // Fully oracle-checked via the s_approx_users pattern: HLL
    // estimates are engine-specific, so the RESULT carries the exact
    // count plus an est_ok bit pinning the estimate within
    // max(3, 10%·exact) — the oracle recomputes the exact count and
    // emits TRUE, so a sketch regression (estimate drifting out of
    // tolerance) hash-fails the gate, not just a spec.
    // Not QueryDef.sql: the HLL++ estimate; the oracle pins est_ok TRUE.
    QueryDef("q_approx_distinct",
      (s, dir) => {
        rd(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(approx_count_distinct(col("o_custkey")).as("approx"),
            countDistinct(col("o_custkey")).as("exact_customers"))
          .select(col("o_orderstatus"), col("exact_customers"),
            (abs(col("approx") - col("exact_customers")) <=
              greatest(lit(3.0), col("exact_customers") * 0.1)).as("est_ok"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
             |  COUNT(DISTINCT o_custkey) AS exact_customers,
             |  TRUE AS est_ok
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),

    // ---- HLL sketch ROLLUP (mergeable-sketch algebra in batch) --------
    // The 100 TB distinct-count rollup pattern: distinct users per day
    // CANNOT be summed into distinct users overall (sum_day_users
    // double-counts returnees — emitted as a column to pin exactly why
    // naive rollup is wrong), but DataSketches HLL sketches CAN be
    // unioned: one sketch per day, hll_union_agg over the day sketches,
    // one estimate — the re-aggregation is sketch-sized, never a second
    // pass over the log. This is the batch twin of s_approx_users'
    // streaming HLL and the algebra that lets a 100 TB pipeline keep
    // daily sketches and answer any date-range distinct query from
    // them. est_ok gate (the q_approx_distinct pattern): the union
    // estimate must land within max(3, 5%) of the exact distinct —
    // DataSketches HLL at default lgK=12 is ~1.6% rse, so the bound is
    // ~3σ; deterministic for a fixed input.
    // Not QueryDef.sql: DataSketches HLL sketches; the oracle pins est_ok TRUE.
    QueryDef("q_hll_rollup",
      (s, dir) => {
        val daily = events(s, dir)
          .withColumn("day", date_trunc("day", col("ts")))
          .groupBy("day")
          .agg(expr("hll_sketch_agg(user_id)").as("sk"),
            countDistinct(col("user_id")).as("du"))
        val total = daily.agg(
          count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_total"),
          sum(col("du")).as("sum_day_users"))
        val exact = events(s, dir)
          .agg(countDistinct(col("user_id")).as("exact_total"))
        total.crossJoin(broadcast(exact))
          .select(col("n_days"), col("exact_total"), col("sum_day_users"),
            (abs(col("est_total") - col("exact_total")) <=
              greatest(lit(3.0), col("exact_total") * lit(0.05))).as("est_ok"))
      },
      Some("""WITH d AS (SELECT date_trunc('day', ts) AS day,
             |        COUNT(DISTINCT user_id) AS du FROM events GROUP BY 1)
             |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_days,
             |  (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_total,
             |  (SELECT CAST(SUM(du) AS BIGINT) FROM d) AS sum_day_users,
             |  TRUE AS est_ok""".stripMargin)),

    // ---- SimHash document fingerprint (dedup primitive) --------------
    // 32-bit simhash over distinct tokens, each bit voted by an
    // md5-nibble of the token — md5 is the one hash both engines share,
    // so even this is oracle-checkable. ONE explode + ONE single-pass
    // aggregation: graft.functions.SimHashAgg folds all 32 bit-votes
    // into one Array[Int] state per doc (map-side combinable, 32 ints
    // per doc on the shuffle), replacing round 1's ×32 row blowup via
    // explode(sequence(0, 31)) + double aggregation.
    QueryDef("q_simhash",
      (s, dir) => {
        rd(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
          .groupBy("doc_id")
          .agg(graft.functions.SimHashAgg.simhash(md5(col("tok"))).as("simhash32"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
             |           FROM documents),
             |n AS (SELECT doc_id, tok, g.b,
             |        strpos('0123456789abcdef', substring(md5(tok), g.b + 1, 1)) - 1 AS nib
             |      FROM t CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) g),
             |s AS (SELECT doc_id, b,
             |        SUM(CASE WHEN nib >= 8 THEN 1 ELSE -1 END) AS sgn
             |      FROM n GROUP BY doc_id, b)
             |SELECT doc_id,
             |  CAST(SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
             |    AS simhash32
             |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- language ID: marker-token argmax heuristic ------------------
    // The n-gram-profile shape with a synthetic 5-profile marker set
    // (the corpus vocabulary is language-independent word soup, so real
    // per-language profiles would be inert here; swap the marker sets
    // for real trigram profiles on a natural corpus).
    QueryDef("q_lang_id",
      (s, dir) => {
        val markers = Seq(
          "en" -> Seq("the", "data", "row"), "es" -> Seq("join", "merge", "sort"),
          "de" -> Seq("query", "filter", "scan"), "fr" -> Seq("stream", "batch", "window"),
          "zh" -> Seq("hash", "key", "value"))
        val scored = rd(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
        val withScores = markers.zipWithIndex.foldLeft(scored) {
          case (df, ((_, ws), i)) =>
            df.withColumn(s"s$i",
              expr(s"size(filter(toks, t -> t IN (${ws.map("'" + _ + "'").mkString(",")})))"))
        }
        val names = markers.map(_._1)
        val pred = (0 until 5).foldRight(lit(names.last)) { (i, elseCol) =>
          if (i == 4) elseCol
          else when((i + 1 until 5).map(j => col(s"s$i") >= col(s"s$j"))
            .reduce(_ && _), names(i)).otherwise(elseCol)
        }
        withScores
          .withColumn("lang_pred", pred)
          .withColumn("confidence",
            greatest((0 until 5).map(i => col(s"s$i")): _*).cast("double") /
              size(col("toks")))
          .select("doc_id", "lang", "lang_pred", "confidence")
          .orderBy("doc_id")
      },
      Some("""WITH s AS (
             |  SELECT doc_id, lang, string_split(text, ' ') AS ts,
             |    len(list_filter(string_split(text, ' '), t -> t IN ('the','data','row'))) AS s0,
             |    len(list_filter(string_split(text, ' '), t -> t IN ('join','merge','sort'))) AS s1,
             |    len(list_filter(string_split(text, ' '), t -> t IN ('query','filter','scan'))) AS s2,
             |    len(list_filter(string_split(text, ' '), t -> t IN ('stream','batch','window'))) AS s3,
             |    len(list_filter(string_split(text, ' '), t -> t IN ('hash','key','value'))) AS s4
             |  FROM documents)
             |SELECT doc_id, lang,
             |  CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 AND s0 >= s4 THEN 'en'
             |       WHEN s1 >= s2 AND s1 >= s3 AND s1 >= s4 THEN 'es'
             |       WHEN s2 >= s3 AND s2 >= s4 THEN 'de'
             |       WHEN s3 >= s4 THEN 'fr'
             |       ELSE 'zh' END AS lang_pred,
             |  CAST(greatest(s0, s1, s2, s3, s4) AS DOUBLE) / len(ts) AS confidence
             |FROM s ORDER BY doc_id""".stripMargin)),

    // ---- rolling-hash fingerprint (order-sensitive) ------------------
    // Polynomial fold over the token stream — the order-SENSITIVE
    // complement of q_fingerprint's order-insensitive set hash. Both
    // engines fold sequentially over identical per-token values, so the
    // result is exact.
    QueryDef("q_rolling_hash",
      (s, dir) => {
        rd(s, dir, "documents")
          .select(col("doc_id"),
            expr("""aggregate(
                   |  transform(split(text, ' '),
                   |            t -> CAST(ascii(t) * 131 + length(t) AS BIGINT)),
                   |  CAST(0 AS BIGINT),
                   |  (acc, v) -> (acc * 31 + v) % 1000000007)""".stripMargin)
              .as("roll_fp"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_concat([0::BIGINT],
             |      list_transform(string_split(text, ' '),
             |                     t -> (ascii(t) * 131 + length(t))::BIGINT)),
             |    (acc, v) -> (acc * 31 + v) % 1000000007) AS roll_fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- trained IVF ANN: KMeans centroids as the coarse quantizer ---
    // The production-shape IVF, SPLIT into build and serve the way a
    // serving path actually runs (VERDICT r4/r5 item: never retrain per
    // query). BUILD — once per corpus content (content-stamped dir, same
    // convention as s_incr_dedup's corpus index): train the quantizer on
    // a bounded sample (VERDICT r2 finding 4: never 5 full passes over
    // 100 TB of embeddings; ~4k vectors is ample for k=8 centroids),
    // assign every vector to its cell, and persist the corpus
    // PARTITIONED BY cell plus the k tiny centroids. SERVE — every
    // invocation afterwards: read the k centroids (k rows), pick the
    // nprobe=2 nearest cells driver-side (O(k·dim), corpus-independent),
    // and scan ONLY those cells' files — the cell partitioning turns
    // probe selection into directory-level partition pruning, so a probe
    // touches nprobe/k of the corpus bytes at any scale. Probe search is
    // MULTI-probe (nprobe=2), the standard IVF recall/cost knob
    // (single-cell recall@5 measured 0.6 on this corpus; nprobe=2 lifts
    // it, pinned by AnnRecallSpec).
    //
    // ORACLE PROMOTION (round 10, the q_approx_distinct est_ok
    // precedent): the gate row emits the EXACT brute-force top-5 —
    // which DuckDB reproduces value-for-value — beside a `recall_ok`
    // bit computed from the IVF serve: all 5 probe results present,
    // at least one exact hit (chance at nprobe/k = 1/4 of this
    // near-orthogonal corpus is 0.25 recall; measured 0.4–0.6 across
    // sfs), and summed probe cosine ≥ 0.85× the exact optimum
    // (measured regret ratio 0.92–0.98). The oracle declares TRUE, so
    // a routing/serve regression hash-fails the gate; AnnRecallSpec
    // still pins the sharper 0.6 recall level at sf0.001 and the
    // cells-only partition pruning on the serve plan.
    QueryDef("q_knn_ivf_kmeans",
      (s, dir) => {
        val e = Q.rd(s, dir, "embeddings")
        val probe = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("pe"))
        val exact = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
          .withColumn("cos",
            graft.functions.VectorFunctions.vecCosine(col("embedding"), col("pe")))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(5)
          .select(col("vec_id"), col("cos"))
        // both rankings are top-5 (bounded driver artifacts, the MMR/
        // IVF-centroid precedent) — collecting them once keeps the
        // corpus-scale brute-force scan and the artifact serve to ONE
        // execution each; TakeOrdered creates no exchange, so plan-
        // level reuse across the three quality branches cannot fire
        val exactRows = exact.collect()
        val ivfRows = ivfKmeansServe(s, dir)
          .select(col("vec_id"), col("cosine")).collect()
        val exSum = exactRows.map(_.getDouble(1)).sum
        val ivSum = ivfRows.map(_.getDouble(1)).sum
        val hits = exactRows.map(_.getLong(0)).toSet
          .intersect(ivfRows.map(_.getLong(0)).toSet).size
        val ok = ivfRows.length == 5 && hits >= 1 && ivSum >= exSum * 0.85
        import scala.jdk.CollectionConverters._
        // rounding stays a Spark round() over the literal rows — the
        // oracle's ROUND must keep matching the engine's, bit for bit
        s.createDataFrame(
            exactRows.sortBy(r => (-r.getDouble(1), r.getLong(0))).map(r =>
              org.apache.spark.sql.Row(r.getLong(0), r.getDouble(1), ok))
              .toSeq.asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("vec_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("cos",
                org.apache.spark.sql.types.DoubleType),
              org.apache.spark.sql.types.StructField("recall_ok",
                org.apache.spark.sql.types.BooleanType))))
          .select(col("vec_id"), round(col("cos"), 4).as("cosine"),
            col("recall_ok"))
      },
      Some("""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
             |s AS (SELECT vec_id,
             |  list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |                   list_transform(pe, x -> CAST(x AS DOUBLE)))
             |  / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |                           list_transform(embedding, x -> CAST(x AS DOUBLE))))
             |     * sqrt(list_dot_product(list_transform(pe, x -> CAST(x AS DOUBLE)),
             |                             list_transform(pe, x -> CAST(x AS DOUBLE)))))
             |    AS cos
             |  FROM embeddings, p WHERE vec_id <> 0)
             |SELECT vec_id, ROUND(cos, 4) AS cosine, TRUE AS recall_ok
             |FROM s ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin)),
  )

  /** The trained-IVF serve itself — centroid routing + pruned cell
   * scan over the persisted, cell-partitioned index (build-once via
   * the stamped-artifact protocol). Engine-specific result (KMeans
   * cells), so the GATE wraps it in the exact+recall_ok oracle above;
   * AnnRecallSpec and the pruning spec drive this directly. */
  private[graft] def ivfKmeansServe(s: SparkSession, dir: String): DataFrame = {
        // build-once via the shared stamped-artifact protocol (atomic
        // publish — the whole two-part index appears in one rename, so
        // a concurrent reader can never see cells without centroids);
        // the marker is the LAST-written component's _SUCCESS
        val idx = Q.ensureStamped(graft.sources.ArtifactStore.stamped(
            "graft_ivf_idx2_", dir, "embeddings"),
          marker = "centroids/_SUCCESS") { staging =>
          import org.apache.spark.ml.clustering.KMeans
          import org.apache.spark.ml.functions.array_to_vector
          import s.implicits._
          val e = rd(s, dir, "embeddings")
            .withColumn("features", array_to_vector(
              expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
            .cache()
          val total = e.count()
          val fitInput =
            if (total <= 4096L) e
            else e.sample(withReplacement = false, 4096.0 / total, seed = 42L)
          val model = new KMeans().setK(8).setSeed(42L).setMaxIter(5).fit(fitInput)
          model.transform(e).withColumnRenamed("prediction", "cell")
            .select("vec_id", "cell", "embedding")
            .write.mode("overwrite").partitionBy("cell")
            .parquet(staging.resolve("cells").toString)
          e.unpersist()
          model.clusterCenters.zipWithIndex.toSeq
            .map { case (c, i) => (i, c.toArray) }
            .toDF("cell", "centroid")
            .write.mode("overwrite").parquet(staging.resolve("centroids").toString)
        }
        // ---- serve: centroid routing + pruned cell scan ----------------
        // one point-lookup job collects the probe (pushdown on vec_id);
        // it then rides into the scan as a broadcast-by-construction
        // literal — no second source read, no crossJoin
        val probeRow = rd(s, dir, "embeddings").filter(col("vec_id") === 0)
          .select(col("embedding"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .head()
        val probeVec = probeRow.getSeq[Double](1).toArray
        val probeCells = s.read.parquet(idx.resolve("centroids").toString)
          .collect()
          .map { r =>
            val c = r.getSeq[Double](1)
            var d = 0.0; var j = 0
            while (j < probeVec.length) {
              val diff = c(j) - probeVec(j); d += diff * diff; j += 1 }
            (d, r.getInt(0)) }
          .sortBy(_._1).take(2).map(_._2)
        s.read.parquet(idx.resolve("cells").toString)
          .filter(col("vec_id") =!= 0)
          .filter(col("cell").isin(probeCells.toSeq: _*))
          .withColumn("pe", typedLit(probeRow.getSeq[Float](0)))
          .withColumn("cos",
            graft.functions.VectorFunctions.vecCosine(col("embedding"), col("pe")))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(5)
          .select(col("vec_id"), col("cell"), round(col("cos"), 4).as("cosine"))
  }

  private val defsB: Vector[QueryDef] = Vector(

    // ---- multimodal decode pipeline (typed Dataset, mapPartitions) ---
    // Exercises graft.multimodal end-to-end: real-format payloads (BMP /
    // WAV / Y4M, synthesized deterministically per doc_id) → partition-
    // local REAL decode (MediaCodec parsers) → SQL aggregation over the
    // decoded metadata. The oracle recomputes every decoded property —
    // container byte length (incl. BMP row padding and RIFF/Y4M header
    // framing), dimensions, frame/sample counts, and the mod-2^64
    // polynomial checksum of the decoded CONTENT (pixels / samples /
    // plane bytes) — from the same doc_id arithmetic in DuckDB HUGEINT,
    // so a decoder that misreads padding, row direction, or chunk
    // layout fails the value compare. cs_sum folds each doc's checksum
    // mod 1000003 so the per-kind sum stays in BIGINT range exactly.
    QueryDef("q_media_pipeline",
      (s, dir) => {
        val meta = graft.multimodal.MediaPipeline
          .decode(graft.multimodal.MediaPipeline.itemsFromDocuments(s, dir))
        meta.toDF()
          .groupBy("kind")
          .agg(count(lit(1)).as("n_items"),
            sum(col("byte_len")).cast("long").as("total_bytes"),
            (sum(col("width")).cast("double") / count(lit(1))).as("avg_width"),
            max(col("n_frames")).as("max_frames"),
            sum(col("checksum") % 1000003).cast("long").as("cs_sum"))
          .orderBy("kind")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN lang IN ('en','es') THEN 'image'
             |         WHEN lang IN ('de','fr') THEN 'audio'
             |         ELSE 'video' END AS kind
             |  FROM documents),
             |img AS (
             |  SELECT kind, 4 + doc_id % 6 AS w, 1::BIGINT AS f,
             |    54 + ((3*(4 + doc_id % 6) + 3) // 4) * 4 * (4 + doc_id % 5)
             |      AS byte_len,
             |    list_reduce(list_prepend(0::HUGEINT,
             |        list_transform(range(0, 3*(4 + doc_id % 6)*(4 + doc_id % 5)),
             |          i -> ((doc_id*131 + i*7) % 256)::HUGEINT)),
             |      (acc, v) -> (acc * 131 + v) % 18446744073709551616::HUGEINT)
             |      % 9223372036854775808 AS cs
             |  FROM d WHERE kind = 'image'),
             |aud AS (
             |  SELECT kind, 8000 AS w, (16 + doc_id % 48)::BIGINT AS f,
             |    44 + 2*(16 + doc_id % 48) AS byte_len,
             |    list_reduce(list_prepend(0::HUGEINT,
             |        list_transform(range(0, 16 + doc_id % 48),
             |          i -> ((doc_id*37 + i*11) % 65536)::HUGEINT)),
             |      (acc, v) -> (acc * 131 + v) % 18446744073709551616::HUGEINT)
             |      % 9223372036854775808 AS cs
             |  FROM d WHERE kind = 'audio'),
             |vid AS (
             |  SELECT kind, 4 + 2*(doc_id % 3) AS w, (1 + doc_id % 5)::BIGINT AS f,
             |    35 + (1 + doc_id % 5)
             |       * (6 + (4 + 2*(doc_id % 3)) * (4 + 2*(doc_id % 2)) * 3 // 2)
             |      AS byte_len,
             |    list_reduce(list_prepend(0::HUGEINT,
             |        list_transform(range(0, (1 + doc_id % 5)
             |            * ((4 + 2*(doc_id % 3)) * (4 + 2*(doc_id % 2)) * 3 // 2)),
             |          j -> ((doc_id*17 + j*5) % 256)::HUGEINT)),
             |      (acc, v) -> (acc * 131 + v) % 18446744073709551616::HUGEINT)
             |      % 9223372036854775808 AS cs
             |  FROM d WHERE kind = 'video'),
             |m AS (SELECT * FROM img UNION ALL SELECT * FROM aud
             |      UNION ALL SELECT * FROM vid)
             |SELECT kind, COUNT(*) AS n_items,
             |  CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
             |  CAST(SUM(w) AS DOUBLE) / COUNT(*) AS avg_width,
             |  CAST(MAX(f) AS INTEGER) AS max_frames,
             |  CAST(SUM(cs % 1000003) AS BIGINT) AS cs_sum
             |FROM m GROUP BY kind ORDER BY kind""".stripMargin)),

    // ---- frame sampling over decoded media (typed flatMap) ------------
    // Exercises MediaPipeline.sampleFrames in a distributed typed
    // pipeline: decode → flatMap to (doc, frame) rows → aggregate.
    // Oracle-checked end to end: n_frames comes from the real decode
    // (1 per BMP still, WAV sample count, Y4M FRAME count — each
    // re-derived from doc_id arithmetic in the oracle) and the
    // k-evenly-spaced sampling rule (floor(i·n/k), always including
    // frame 0) is mirrored as a DuckDB list comprehension.
    QueryDef("q_media_frames",
      (s, dir) => {
        import s.implicits._
        val meta = graft.multimodal.MediaPipeline
          .decode(graft.multimodal.MediaPipeline.itemsFromDocuments(s, dir))
        meta.flatMap(m => graft.multimodal.MediaPipeline
            .sampleFrames(m.n_frames, 4).map(i => (m.doc_id, m.kind, i)))
          .toDF("doc_id", "kind", "frame_idx")
          .groupBy("kind")
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("frame_idx")).cast("long").as("sum_idx"),
            max(col("frame_idx")).as("max_idx"))
          .orderBy("kind")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN lang IN ('en','es') THEN 'image'
             |         WHEN lang IN ('de','fr') THEN 'audio'
             |         ELSE 'video' END AS kind
             |  FROM documents),
             |m AS (SELECT kind,
             |        CAST(CASE kind WHEN 'image' THEN 1
             |             WHEN 'audio' THEN 16 + doc_id % 48
             |             ELSE 1 + doc_id % 5 END AS BIGINT) AS n_frames
             |      FROM d),
             |f AS (SELECT kind,
             |        unnest(CASE WHEN n_frames <= 4 THEN range(0, n_frames)
             |               ELSE [i * n_frames // 4 for i in range(0, 4)]
             |               END) AS frame_idx
             |      FROM m)
             |SELECT kind, COUNT(*) AS n_sampled,
             |  CAST(SUM(frame_idx) AS BIGINT) AS sum_idx,
             |  CAST(MAX(frame_idx) AS INTEGER) AS max_idx
             |FROM f GROUP BY kind ORDER BY kind""".stripMargin)),

    // ---- image patchify → patch-mean vector → vector kernel ----------
    // The transform a multimodal pipeline runs AFTER decode (VERDICT r7
    // "what's missing" 3): every image doc's decoded BMP raster cut by
    // a fixed 2×2 grid (MediaPipeline.patchify — partition-local, exact
    // integer byte sums per cell), the four patch means assembled into
    // a float vector, and that vector fed straight into the
    // vec_cosine codegen kernel against the all-ones reference — the
    // "flatness" score (how uniform the patches are), i.e. the decoded
    // pixels genuinely entering the embedding/vector path. NOT
    // circular: the oracle recomputes pixel values, grid assignment
    // (⌊2x/w⌋ integer arithmetic), exact sums, the float cast, and the
    // double-fold cosine from doc_id arithmetic alone, so a patchifier
    // that misassigns a boundary pixel or reads the raster in the wrong
    // order fails the value compare on every affected doc.
    QueryDef("q_media_patchify",
      (s, dir) => {
        import s.implicits._
        val items = graft.multimodal.MediaPipeline
          .itemsFromDocuments(s, dir, onlyKind = Some("image"))
        val ones = typedLit(Array(1f, 1f, 1f, 1f))
        graft.multimodal.MediaPipeline.patchify(items, 2).toDF()
          .groupBy("doc_id")
          .agg(sum(col("n_vals")).cast("long").as("n_vals"),
            max(when(col("patch") === 0, col("mean_v"))).as("m00"),
            max(when(col("patch") === 1, col("mean_v"))).as("m01"),
            max(when(col("patch") === 2, col("mean_v"))).as("m10"),
            max(when(col("patch") === 3, col("mean_v"))).as("m11"))
          .withColumn("vec",
            expr("CAST(array(m00, m01, m10, m11) AS array<float>)"))
          .withColumn("flatness", round(
            graft.functions.VectorFunctions.vecCosine(col("vec"), ones), 4))
          .select(col("doc_id"), col("n_vals"), col("m00"), col("m01"),
            col("m10"), col("m11"), col("flatness"))
          .orderBy("doc_id")
      },
      Some("""WITH img AS (
             |  SELECT doc_id, 4 + doc_id % 6 AS w, 4 + doc_id % 5 AS h
             |  FROM documents WHERE lang IN ('en','es')),
             |px AS (
             |  SELECT doc_id, w, h,
             |    (doc_id*131 + i*7) % 256 AS v,
             |    ((i // 3) % w) AS x, ((i // 3) // w) AS y
             |  FROM img, UNNEST(range(0, 3*w*h)) AS t(i)),
             |p AS (
             |  SELECT doc_id,
             |    ((2*y) // h) * 2 + ((2*x) // w) AS patch,
             |    SUM(v) AS s, COUNT(*) AS n
             |  FROM px GROUP BY 1, 2),
             |m AS (
             |  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_vals,
             |    MAX(CASE WHEN patch = 0 THEN CAST(s AS DOUBLE)/n END) AS m00,
             |    MAX(CASE WHEN patch = 1 THEN CAST(s AS DOUBLE)/n END) AS m01,
             |    MAX(CASE WHEN patch = 2 THEN CAST(s AS DOUBLE)/n END) AS m10,
             |    MAX(CASE WHEN patch = 3 THEN CAST(s AS DOUBLE)/n END) AS m11
             |  FROM p GROUP BY doc_id),
             |vv AS (
             |  SELECT doc_id, n_vals, m00, m01, m10, m11,
             |    list_transform(
             |      [CAST(m00 AS REAL), CAST(m01 AS REAL),
             |       CAST(m10 AS REAL), CAST(m11 AS REAL)],
             |      x -> CAST(x AS DOUBLE)) AS dv
             |  FROM m)
             |SELECT doc_id, n_vals, m00, m01, m10, m11,
             |  ROUND(list_dot_product(dv, [1.0, 1.0, 1.0, 1.0])
             |    / (sqrt(list_dot_product(dv, dv))
             |       * sqrt(CAST(4 AS DOUBLE))), 4) AS flatness
             |FROM vv ORDER BY doc_id""".stripMargin)),

    // ---- audio framing → frame-RMS vector → vector kernel -------------
    // The audio sibling of q_media_patchify, closing the decode→feature
    // symmetry across modalities: every audio doc's decoded PCM16
    // samples cut into a fixed 4 frames by the same ⌊i·g/n⌋ grid
    // arithmetic (MediaPipeline.frameAudio — partition-local, exact
    // signed-amplitude Σa² per frame), the 4 frame RMS values assembled
    // into a float vector and scored through the vec_cosine codegen
    // kernel against the all-ones reference — the "evenness" of energy
    // across the clip, i.e. decoded audio genuinely entering the
    // vector path. NOT circular: the oracle recomputes the samples
    // ((doc_id·37 + i·11) mod 2¹⁶, sign-folded at 32768), the frame
    // assignment, exact energies, the float cast, and the double-fold
    // cosine from doc_id arithmetic alone, so a framer that misassigns
    // a boundary sample or drops sign extension fails the value
    // compare on every affected clip.
    QueryDef("q_media_audio_frames",
      (s, dir) => {
        import s.implicits._
        val items = graft.multimodal.MediaPipeline
          .itemsFromDocuments(s, dir, onlyKind = Some("audio"))
        val ones = typedLit(Array(1f, 1f, 1f, 1f))
        graft.multimodal.MediaPipeline.frameAudio(items, 4).toDF()
          .groupBy("doc_id")
          .agg(sum(col("n_samples")).cast("long").as("n_samples"),
            sum(col("energy")).cast("long").as("energy_total"),
            max(when(col("frame") === 0, col("rms"))).as("r0"),
            max(when(col("frame") === 1, col("rms"))).as("r1"),
            max(when(col("frame") === 2, col("rms"))).as("r2"),
            max(when(col("frame") === 3, col("rms"))).as("r3"))
          .withColumn("vec",
            expr("CAST(array(r0, r1, r2, r3) AS array<float>)"))
          .withColumn("evenness", round(
            graft.functions.VectorFunctions.vecCosine(col("vec"), ones), 4))
          .select(col("doc_id"), col("n_samples"), col("energy_total"),
            col("r0"), col("r1"), col("r2"), col("r3"), col("evenness"))
          .orderBy("doc_id")
      },
      Some("""WITH aud AS (
             |  SELECT doc_id, 16 + doc_id % 48 AS n
             |  FROM documents WHERE lang IN ('de','fr')),
             |sm AS (
             |  SELECT doc_id, n, i, (doc_id*37 + i*11) % 65536 AS v
             |  FROM aud, UNNEST(range(0, n)) AS t(i)),
             |amp AS (
             |  SELECT doc_id, (i * 4) // n AS frame,
             |    CASE WHEN v < 32768 THEN v ELSE v - 65536 END AS a
             |  FROM sm),
             |fr AS (
             |  SELECT doc_id, frame, COUNT(*) AS nf,
             |    CAST(SUM(a*a) AS BIGINT) AS e
             |  FROM amp GROUP BY 1, 2),
             |m AS (
             |  SELECT doc_id, CAST(SUM(nf) AS BIGINT) AS n_samples,
             |    CAST(SUM(e) AS BIGINT) AS energy_total,
             |    MAX(CASE WHEN frame = 0 THEN sqrt(CAST(e AS DOUBLE)/nf) END) AS r0,
             |    MAX(CASE WHEN frame = 1 THEN sqrt(CAST(e AS DOUBLE)/nf) END) AS r1,
             |    MAX(CASE WHEN frame = 2 THEN sqrt(CAST(e AS DOUBLE)/nf) END) AS r2,
             |    MAX(CASE WHEN frame = 3 THEN sqrt(CAST(e AS DOUBLE)/nf) END) AS r3
             |  FROM fr GROUP BY doc_id),
             |vv AS (
             |  SELECT doc_id, n_samples, energy_total, r0, r1, r2, r3,
             |    list_transform(
             |      [CAST(r0 AS REAL), CAST(r1 AS REAL),
             |       CAST(r2 AS REAL), CAST(r3 AS REAL)],
             |      x -> CAST(x AS DOUBLE)) AS dv
             |  FROM m)
             |SELECT doc_id, n_samples, energy_total, r0, r1, r2, r3,
             |  ROUND(list_dot_product(dv, [1.0, 1.0, 1.0, 1.0])
             |    / (sqrt(list_dot_product(dv, dv))
             |       * sqrt(CAST(4 AS DOUBLE))), 4) AS evenness
             |FROM vv ORDER BY doc_id""".stripMargin)),

    // ---- video motion (temporal frame differencing) --------------------
    // The video transform past decode, completing the modality symmetry
    // (image patchify, audio framing, video motion): exact integer SAD
    // between every pair of consecutive decoded Y4M frames
    // (MediaPipeline.motion — partition-local, f−1 feature rows per
    // clip), aggregated per clip into total/max motion and the
    // per-byte motion rate — the primitive under shot-boundary
    // detection and static-clip filtering. Single-frame clips
    // (doc_id % 5 = 0 → f = 1) have no transitions and are excluded up
    // front on both sides. NOT circular: the oracle recomputes every
    // plane byte ((doc_id·17 + (fi·m + j)·5) mod 256), the |cur − prev|
    // fold, and the one double division from doc_id arithmetic alone,
    // so a decoder or differ that misaligns frames fails the value
    // compare on every affected clip.
    QueryDef("q_media_video_motion",
      (s, dir) => {
        import s.implicits._
        val items = graft.multimodal.MediaPipeline
          .itemsFromDocuments(s, dir, onlyKind = Some("video"))
          .filter(col("doc_id") % 5 =!= 0)
        graft.multimodal.MediaPipeline.motion(items).toDF()
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_steps"),
            sum(col("sad")).cast("long").as("total_sad"),
            max(col("sad")).as("max_sad"),
            sum(col("n_bytes")).cast("long").as("n_bytes"))
          .withColumn("motion_rate",
            col("total_sad").cast("double") / col("n_bytes").cast("double"))
          .select(col("doc_id"), col("n_steps"), col("total_sad"),
            col("max_sad"), round(col("motion_rate"), 4).as("motion_rate"))
          .orderBy("doc_id")
      },
      Some("""WITH vid AS (
             |  SELECT doc_id, 1 + doc_id % 5 AS f,
             |    ((4 + 2*(doc_id % 3)) * (4 + 2*(doc_id % 2)) * 3) // 2 AS m
             |  FROM documents
             |  WHERE lang NOT IN ('en','es','de','fr') AND doc_id % 5 <> 0),
             |px AS (
             |  SELECT doc_id, fi, m,
             |    ABS((doc_id*17 + (fi*m + j)*5) % 256
             |        - (doc_id*17 + ((fi-1)*m + j)*5) % 256) AS d
             |  FROM vid,
             |    UNNEST(range(1, f)) AS tf(fi),
             |    UNNEST(range(0, m)) AS tj(j)),
             |st AS (
             |  SELECT doc_id, fi, m, CAST(SUM(d) AS BIGINT) AS sad
             |  FROM px GROUP BY 1, 2, 3)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_steps,
             |  CAST(SUM(sad) AS BIGINT) AS total_sad,
             |  CAST(MAX(sad) AS BIGINT) AS max_sad,
             |  ROUND(CAST(SUM(sad) AS DOUBLE) / SUM(m), 4) AS motion_rate
             |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- Bloom-filter runtime join filter -----------------------------
    // The semi-join-reduction pattern behind Catalyst's InjectRuntimeFilter,
    // surfaced explicitly: ONE distributed aggregation folds the dim-side
    // join keys into an 8 MiB-capped Bloom filter (partial filters merge
    // associatively, so it map-side combines like any agg), which then
    // prefilters the fact scan MAP-SIDE — before any exchange — so the
    // join only sees matching rows plus an ~1% false-positive trickle.
    // At 100 TB this is the difference between shuffling/probing the whole
    // fact table and shuffling only the selective slice; the explicit form
    // also covers what the optimizer's heuristics can't prove (reused
    // filters, cross-stage persistence). The exact join afterwards drops
    // false positives, so the result is IDENTICAL to the plain join — the
    // oracle runs the unfiltered join, pinning no-false-negatives at gate
    // scale. Driver cost: two scalar jobs over the SMALL side only (a
    // count to size the filter, the filter bytes themselves).
    // Not QueryDef.sql: the graft Bloom-filter kernel.
    QueryDef("q_bloom_join",
      (s, dir) => {
        val dim = rd(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val bytes = dim
          .agg(graft.functions.BloomFunctions
            .bloomAgg(col("c_custkey"), dim.count()).as("bf"))
          .head.getAs[Array[Byte]]("bf")
        val fact = rd(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice"))
        val pruned = // empty dim side => null filter bytes => nothing passes
          if (bytes == null) fact.filter(lit(false))
          else fact.filter(graft.functions.BloomFunctions
            .bloomContains(bytes, col("o_custkey")))
        pruned.join(dim, col("o_custkey") === col("c_custkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // ---- one-pass table statistics (ANALYZE) ---------------------------
    // The stats-collection pass every 100 TB pipeline runs before
    // planning: per-column null count, min/max, and exact NDV for six
    // lineitem columns in ONE scan of the table. NOT the naive
    // six-countDistinct aggregate — Spark plans that as an Expand that
    // multiplies every input row 6× before the shuffle (measured 7.8 s
    // vs 0.6 s here at sf0.1). Instead: unpivot each row to 6
    // (col_name, value) pairs map-side, then a two-stage aggregation —
    // stage 1 groups by (col_name, value), so partial aggregation dedups
    // within each task and the shuffle carries at most Σ ndv(col) rows
    // regardless of table size; stage 2 folds the deduplicated pairs
    // into nulls/min/max/ndv per column. The HLL estimate rides stage 2
    // over the same deduplicated stream (same cardinality being
    // estimated) and is gate-checked against the exact NDV via the
    // est_ok pattern (q_approx_distinct), so at scale the exact-NDV
    // column can be swapped for the sketch and the contract stays.
    // Not QueryDef.sql: the one-scan two-stage plan and its HLL estimate.
    QueryDef("q_table_stats",
      (s, dir) => {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice", "l_discount")
        val unpivot = cols.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
        val grouped = rd(s, dir, "lineitem")
          .select(expr(s"stack(${cols.size}, $unpivot)")
            .as(Seq("col_name", "v")))
          .groupBy("col_name", "v").agg(count(lit(1)).as("cnt"))
          .groupBy("col_name")
          .agg(
            sum(when(col("v").isNull, col("cnt")).otherwise(lit(0L))).as("n_nulls"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"),
            count(when(col("v").isNotNull, lit(1))).as("ndv"),
            approx_count_distinct(col("v"), 0.02).as("andv"))
        // a stats report lists every profiled column even when the table
        // is empty (a grouped agg alone would emit zero rows there, while
        // the oracle's global-aggregate shape still emits one per column)
        import s.implicits._
        cols.toDF("col_name").join(grouped, Seq("col_name"), "left")
          .select(col("col_name"),
            coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
            col("min_v"), col("max_v"),
            coalesce(col("ndv"), lit(0L)).as("ndv"),
            (abs(coalesce(col("andv"), lit(0L)) - coalesce(col("ndv"), lit(0L))) <=
              greatest(lit(3.0), coalesce(col("ndv"), lit(0L)) * 0.1)).as("est_ok"))
          .orderBy("col_name")
      },
      Some("""WITH a AS (SELECT COUNT(*) AS cnt,
             |  COUNT(l_orderkey) AS c1, CAST(MIN(l_orderkey) AS DOUBLE) AS mn1,
             |    CAST(MAX(l_orderkey) AS DOUBLE) AS mx1, COUNT(DISTINCT l_orderkey) AS d1,
             |  COUNT(l_partkey) AS c2, CAST(MIN(l_partkey) AS DOUBLE) AS mn2,
             |    CAST(MAX(l_partkey) AS DOUBLE) AS mx2, COUNT(DISTINCT l_partkey) AS d2,
             |  COUNT(l_suppkey) AS c3, CAST(MIN(l_suppkey) AS DOUBLE) AS mn3,
             |    CAST(MAX(l_suppkey) AS DOUBLE) AS mx3, COUNT(DISTINCT l_suppkey) AS d3,
             |  COUNT(l_quantity) AS c4, CAST(MIN(l_quantity) AS DOUBLE) AS mn4,
             |    CAST(MAX(l_quantity) AS DOUBLE) AS mx4, COUNT(DISTINCT l_quantity) AS d4,
             |  COUNT(l_extendedprice) AS c5, CAST(MIN(l_extendedprice) AS DOUBLE) AS mn5,
             |    CAST(MAX(l_extendedprice) AS DOUBLE) AS mx5, COUNT(DISTINCT l_extendedprice) AS d5,
             |  COUNT(l_discount) AS c6, CAST(MIN(l_discount) AS DOUBLE) AS mn6,
             |    CAST(MAX(l_discount) AS DOUBLE) AS mx6, COUNT(DISTINCT l_discount) AS d6
             |  FROM lineitem)
             |SELECT * FROM (
             |  SELECT 'l_orderkey' AS col_name, cnt - c1 AS n_nulls, mn1 AS min_v,
             |         mx1 AS max_v, d1 AS ndv, TRUE AS est_ok FROM a
             |  UNION ALL SELECT 'l_partkey', cnt - c2, mn2, mx2, d2, TRUE FROM a
             |  UNION ALL SELECT 'l_suppkey', cnt - c3, mn3, mx3, d3, TRUE FROM a
             |  UNION ALL SELECT 'l_quantity', cnt - c4, mn4, mx4, d4, TRUE FROM a
             |  UNION ALL SELECT 'l_extendedprice', cnt - c5, mn5, mx5, d5, TRUE FROM a
             |  UNION ALL SELECT 'l_discount', cnt - c6, mn6, mx6, d6, TRUE FROM a)
             |ORDER BY col_name""".stripMargin)),

    // ---- count-min sketch point-frequency estimates --------------------
    // Completes the sketch quartet (HLL distinct, quantile sketch,
    // SpaceSaving top-k, now CMS point queries) with Spark's built-in
    // `count_min_sketch` aggregate: counter arrays sum associatively, so
    // the sketch merges across partitions in any order and a fixed seed
    // makes every estimate deterministic. The gate result carries the
    // exact top-10 part frequencies plus an est_ok bit pinning each CMS
    // estimate to [exact, exact + max(3, ceil(eps·N))] — the one-sided
    // overestimate guarantee CMS actually makes — so a hash-function or
    // merge regression hash-fails the gate (the q_approx_distinct
    // pattern). Probing is 10 driver-side lookups against the 8 KB-scale
    // sketch; at 100 TB the sketch build is ONE map-side-combined
    // aggregation, never a distinct-key shuffle.
    // Not QueryDef.sql: the count-min sketch it builds and probes per key.
    QueryDef("q_cms_counts",
      (s, dir) => {
        val keys = rd(s, dir, "lineitem").select(col("l_partkey"))
        val agg = keys.agg(
          expr("count_min_sketch(l_partkey, 0.0001d, 0.99d, 42)").as("cms"),
          count(lit(1)).as("n")).head
        val total = agg.getLong(1)
        val slack = math.max(3L, math.ceil(0.0001 * total).toLong)
        val cms =
          if (agg.isNullAt(0)) None
          else Some(org.apache.spark.util.sketch.CountMinSketch.readFrom(
            new java.io.ByteArrayInputStream(agg.getAs[Array[Byte]](0))))
        val top = keys.groupBy("l_partkey").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("l_partkey"))
          .limit(10).collect()
        import s.implicits._
        top.toSeq.map { r =>
          val (k, exact) = (r.getLong(0), r.getLong(1))
          val est = cms.map(_.estimateCount(k)).getOrElse(0L)
          (k, exact, est >= exact && est <= exact + slack)
        }.toDF("l_partkey", "exact_cnt", "est_ok")
          .orderBy(col("exact_cnt").desc, col("l_partkey"))
      },
      Some("""SELECT l_partkey, COUNT(*) AS exact_cnt, TRUE AS est_ok
             |FROM lineitem GROUP BY l_partkey
             |ORDER BY exact_cnt DESC, l_partkey LIMIT 10""".stripMargin)),

    // ---- random-projection embedding compression (JL transform) -------
    // Johnson–Lindenstrauss dimensionality reduction 64 → 16 with a
    // dense ±1 sign matrix (Achlioptas 2003): y_j = (1/√16) Σ_i v_i·s_ij.
    // The matrix is DETERMINISTIC — s_ij from the first md5 nibble of
    // "jl_j_i" — computed ONCE on the driver and shipped as a plan
    // literal (the broadcast-the-matrix shape; at 100 TB the projection
    // is a pure map stage appended to any scan: no shuffle, no state,
    // 16 fused fold loops per row under whole-stage codegen). The
    // oracle re-derives the SAME matrix from md5 inside DuckDB and
    // replays the identical left-to-right IEEE folds, so the projected
    // components and norms compare bit-for-bit — a wrong sign, fold
    // order, or scale constant fails the hash. 1/√16 = 0.25 is exact
    // binary, so the scale step is one lossless multiply.
    QueryDef("q_jl_project",
      (s, dir) => {
        val (kOut, dIn) = (16, 64)
        val md = java.security.MessageDigest.getInstance("MD5")
        def sign(j: Int, i: Int): Int = {
          val h = md.digest(s"jl_${j}_$i".getBytes("UTF-8"))
          if (((h(0) >> 4) & 0xF) >= 8) 1 else -1
        }
        val mat = (0 until kOut).map(j =>
          (0 until dIn).map(i => sign(j, i)).mkString("array(", ", ", ")"))
          .mkString("array(", ", ", ")")
        rd(s, dir, "embeddings")
          .withColumn("y", expr(
            s"""transform(sequence(0, ${kOut - 1}), j ->
               |  0.25D * aggregate(sequence(0, ${dIn - 1}), 0.0D,
               |    (a, i) -> a + CAST(element_at(embedding, i + 1) AS DOUBLE)
               |      * element_at(element_at($mat, j + 1), i + 1)))""".stripMargin))
          .select(col("vec_id"),
            expr("y[0]").as("y0"), expr("y[1]").as("y1"),
            expr("y[2]").as("y2"), expr("y[3]").as("y3"),
            expr("aggregate(y, 0.0D, (a, t) -> a + t * t)").as("ynorm2"))
          .orderBy("vec_id")
      },
      Some("""WITH mj AS (SELECT unnest(range(0, 16)) AS j),
             |m AS (SELECT j, list_transform(range(0, 64), i ->
             |        CASE WHEN strpos('89abcdef',
             |            substring(md5('jl_' || j || '_' || i), 1, 1)) > 0
             |          THEN 1 ELSE -1 END) AS srow
             |      FROM mj),
             |mm AS (SELECT list(srow ORDER BY j) AS mat FROM m),
             |p AS (SELECT vec_id,
             |        list_transform(range(0, 16), j ->
             |          0.25 * list_reduce(list_prepend(0.0::DOUBLE,
             |            list_transform(range(0, 64), i ->
             |              CAST(embedding[i + 1] AS DOUBLE) * mat[j + 1][i + 1])),
             |            (a, b) -> a + b)) AS y
             |      FROM embeddings, mm)
             |SELECT vec_id, y[1] AS y0, y[2] AS y1, y[3] AS y2, y[4] AS y3,
             |  list_reduce(list_prepend(0.0::DOUBLE,
             |    list_transform(y, t -> t * t)), (a, b) -> a + b) AS ynorm2
             |FROM p ORDER BY vec_id""".stripMargin)),

    // ---- market-basket co-occurrence (association rules) --------------
    // Item-pair support + lift over order baskets: the co-occurrence
    // primitive under "frequently bought together", negative-pair
    // mining, and co-citation graphs. groupBy(order).collect_set
    // builds the distinct basket per order (collect_set dedups, so no
    // separate distinct pass), and the basket frame (one row per
    // order, corpus/avg-basket-size smaller) feeds all three derived
    // aggregates — per-item order counts, the order total, and the
    // pair expansion — as branches of one plan sharing the basket
    // exchange. At 100 TB the basket frame is what a pipeline would
    // persist as a table; here the shared-exchange read beats
    // re-materializing it (see the cache note below).
    // Pair fanout is MAP-SIDE over each sorted basket (≤ C(basket,2) —
    // baskets are order-sized, never corpus-sized, so this never
    // degenerates to a cross product), pair counts partial-aggregate
    // map-side, and the item-count join is dim-sized (ndv(partkey)
    // rows — broadcast at gate scale; drop the hint and AQE shuffles
    // it if the part dimension outgrows the threshold). Top-100 cut is
    // a TakeOrderedAndProject, never a global sort. lift =
    // pair_cnt·N / (cnt1·cnt2): exact BIGINT products, ONE IEEE
    // division — identical in both engines.
    // Not QueryDef.sql: the explicit repartition before the baskets.
    QueryDef("q_cooccur",
      (s, dir) => {
        // NOT cached (round 10): all three consumers below sit in ONE
        // final plan, so the basket aggregation's shuffle data is
        // shared across branches at execution; materializing the
        // array-heavy basket rows through the block manager measured
        // 2.2 s warm vs 1.2 s letting the branches re-read the shared
        // exchange (3-rep A/B, tools-level). The r1 finding that
        // motivated the cache predates the bench's AQE-planned shape.
        // Re-litigated r15: an interim (pre-finalization-fix) executed
        // sweep read "4 lineitem scans / 0 reuse", prompting an A/B
        // — persisting only the TINY items frame + a countDistinct tot
        // was still slower warm (1.6-1.9 vs 1.2-1.6 s interleaved; the
        // persist barrier serializes branches this plan runs
        // concurrently). The CORRECTED executed counter then confirmed
        // the r10 claim outright: 2 real scans + 2 ReusedExchange —
        // AQE already shares the basket shuffle across branches.
        // Shape stands by both measurements.
        // r21: hash-repartition the projected pair stream by l_orderkey
        // BEFORE the basket aggregation. The bench input is a single
        // row-group file (OPTIMIZATION_r21.md), so the scan stage — and with
        // it the partial collect_set over 600k rows — ran as ONE task;
        // the explicit exchange moves the basket build behind a cheap
        // 16-byte-row shuffle and onto every core (guide §2.5, one huge
        // unsplittable file → repartition after the read). This is also
        // the right plan at scale: partial collect_set over near-unique
        // orderkeys reduces almost nothing (avg basket ≈ 4), so the
        // map-side partial pass saved no shuffle bytes — it only
        // serialized the build. Interleaved 5-rep A/B
        // (OPTIMIZATION_r21.md): min 1.909 → 1.173 s, every rep pair
        // agreeing, checksums equal; oracle re-pinned at sf0.01/sf0.001.
        val baskets = rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .repartition(col("l_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        val items = baskets.select(explode(col("parts")).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
        val tot = baskets.agg(count(lit(1)).as("n_orders"))
        // pair generation as two chained codegen generators (posexplode
        // anchor + explode of the ascending tail slice) instead of the
        // nested transform-HOF it replaced — ArrayTransform is
        // CodegenFallback, so the lambda ran interpreted per element
        val pairs = baskets
          .filter(size(col("parts")) >= 2)
          .select(posexplode(col("parts")).as(Seq("i", "pk1")), col("parts"))
          .select(col("pk1"), explode(
            slice(col("parts"), col("i") + lit(2),
              size(col("parts")))).as("pk2"))
          .groupBy(col("pk1"), col("pk2"))
          .agg(count(lit(1)).as("pair_cnt"))
        pairs
          .join(broadcast(items.select(col("pk").as("pk1"),
            col("cnt").as("cnt1"))), Seq("pk1"))
          .join(broadcast(items.select(col("pk").as("pk2"),
            col("cnt").as("cnt2"))), Seq("pk2"))
          .crossJoin(broadcast(tot))
          .withColumn("lift",
            (col("pair_cnt") * col("n_orders")).cast("double") /
              (col("cnt1") * col("cnt2")).cast("double"))
          .orderBy(col("pair_cnt").desc, col("pk1"), col("pk2"))
          .limit(100)
          .select("pk1", "pk2", "pair_cnt", "lift")
      },
      Some("""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |ic AS (SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS cnt
             |       FROM b GROUP BY 1),
             |tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
             |          AS n_orders FROM b),
             |p AS (SELECT a.l_partkey AS pk1, c.l_partkey AS pk2,
             |        CAST(count(*) AS BIGINT) AS pair_cnt
             |      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
             |        AND a.l_partkey < c.l_partkey
             |      GROUP BY 1, 2)
             |SELECT pk1, pk2, pair_cnt,
             |  CAST(pair_cnt * n_orders AS DOUBLE)
             |    / CAST(i1.cnt * i2.cnt AS DOUBLE) AS lift
             |FROM p
             |JOIN ic i1 ON p.pk1 = i1.pk
             |JOIN ic i2 ON p.pk2 = i2.pk
             |CROSS JOIN tot
             |ORDER BY pair_cnt DESC, pk1, pk2 LIMIT 100""".stripMargin)),

    // ---- exact-substring duplication scan ------------------------------
    // The char-level ExactSubstr signal (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): per document, what
    // fraction of its k-char windows (k=30) also occurs elsewhere in the
    // corpus — catching boilerplate and quotation overlap that
    // whole-doc/segment hashing (q_dedup_exact, q_seg_dedup) and
    // shingle-Jaccard (q_neardup_pairs) both miss. The suffix-array
    // approach of the paper is replaced by the Spark-expressible
    // gram-hash plan: windows fingerprint to 8-byte longs in ONE O(n)
    // rolling-hash pass per doc, and (round 14) the per-doc gram
    // multiset is sort+RLE'd IN-ROW by the substr_hash_windows_rle
    // kernel (functions/SubstrHash.scala) — the former
    // `explode → groupBy(doc_id, h)` stage probed a map-partition-wide
    // hash table once per WINDOW and exchanged the distinct pairs; the
    // kernel is a cache-local primitive sort per doc and no exchange
    // at all. Downstream, only two per-doc scalars are needed:
    // gram_cnt is length(text)-k+1 (no aggregation), and dup_gram_cnt
    // sums pos_cnt over grams whose corpus frequency ≥ 2 — computed
    // as a WINDOW over h on the one exchanged gram stream (a separate
    // frequency aggregation can never share the kernel scan: pruning
    // drops doc_id from that branch, the canonicalized subplans
    // differ, and ReuseExchange can't fire — the join-back shape paid
    // a third corpus scan; PlanAuditSpec pins the two-scan shape).
    // The final per-doc aggregation touches only duplicated-gram
    // rows, a small fraction of the corpus. The one gram shuffle
    // carries (doc_id, long) pairs, never text — and never 32-char
    // md5 hex either: 8-byte keys halved the sf0.1 wall time when
    // they landed; hash keys are uniform, no skew.
    // The oracle needs no matching hash at all: it groups the RAW
    // 30-char windows, pinning the Spark side's fingerprint grouping
    // to exact-string semantics (a 64-bit collision would shift a
    // count and hash-fail the gate; at gate scale ~250k distinct
    // windows that chance is ~1e-9, and at 100 TB a collision only
    // perturbs a dup-ratio STATISTIC, not a kept/dropped identity).
    // At 100 TB stride-1 windows are the cost knob: raise the stride
    // (sample every s-th window) and the plan is unchanged while the
    // scan shrinks s-fold. Counts are exact integers; the one double
    // division is identical IEEE in both engines.
    QueryDef("q_substr_dedup",
      (s, dir) => {
        val k = 30
        // docs shorter than k have no windows (the kernel returns an
        // empty array for them too; the guard keeps intent visible)
        val docs = rd(s, dir, "documents")
          .filter(length(col("text")) >= k)
        // corpus frequency via the hot/cold ROUTED shape (r15): the
        // r14 window over h computed tot on the one exchanged gram
        // stream — plan-minimal, but a boilerplate 30-gram repeated
        // across millions of docs puts its every (doc, gram) row in
        // ONE WindowExec task (RLE collapses per-doc repeats, so the
        // bound is n_docs — which IS the corpus at lake scale).
        // HotColdFreq pays a second kernel pass in the frequency
        // branch but partial-aggregates map-side, broadcasts hot
        // grams around the exchange, and shuffles the cold tail
        // skew-bounded (`archive/ZIPFPROBE_r*.json`: routed ≥ window at 110× in
        // both skew regimes, identical checksums).
        val g1 = docs
          .select(col("doc_id"),
            explode(graft.functions.SubstrHash.windowsRle(col("text"), k))
              .as("w"))
          .select(col("doc_id"), col("w.h").as("h"), col("w.c").as("pos_cnt"))
        // ONE-SCAN final shape (r15, SURVEY backlog #2 criterion
        // fired): gram_cnt rides the explode — sum(pos_cnt) per doc is
        // exactly length-k+1 — so the former second text projection +
        // join is gone. The stride criterion measured dup_gram
        // fraction at 9.4% (sf0.1 gate corpus, DuckDB-corroborated)
        // and 45% (20k-doc × 21 KB long-doc corpus) — both above the
        // ~5% line where the dup-only aggregation stops paying for its
        // extra corpus scan; an interleaved A/B (checksums asserted,
        // OPTIMIZATION_r21.md) read one-scan ≤ two-scan on every pair at
        // both corpora, element-min 79 vs 107 s on the long-doc corpus.
        graft.plans.HotColdFreq.withFreq(
            g1, "h", "tot", col("pos_cnt"), col("doc_id"))
          .groupBy(col("doc_id"))
          .agg(sum(col("pos_cnt")).as("gram_cnt"),
            sum(when(col("tot") >= 2, col("pos_cnt")).otherwise(0L))
              .as("dup_gram_cnt"))
          .withColumn("dup_ratio",
            col("dup_gram_cnt").cast("double") / col("gram_cnt").cast("double"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH g AS (
             |  SELECT doc_id, substr(text, i, 30) AS h
             |  FROM documents CROSS JOIN LATERAL (
             |    SELECT unnest(generate_series(1, length(text) - 29)) AS i) u
             |  WHERE length(text) >= 30),
             |g1 AS (SELECT doc_id, h, CAST(count(*) AS BIGINT) AS pos_cnt
             |       FROM g GROUP BY 1, 2),
             |freq AS (SELECT h, CAST(sum(pos_cnt) AS BIGINT) AS tot
             |         FROM g1 GROUP BY 1)
             |SELECT g1.doc_id,
             |  CAST(sum(pos_cnt) AS BIGINT) AS gram_cnt,
             |  CAST(sum(CASE WHEN tot >= 2 THEN pos_cnt ELSE 0 END) AS BIGINT)
             |    AS dup_gram_cnt,
             |  CAST(sum(CASE WHEN tot >= 2 THEN pos_cnt ELSE 0 END) AS DOUBLE)
             |    / CAST(sum(pos_cnt) AS DOUBLE) AS dup_ratio
             |FROM g1 JOIN freq USING (h)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // ---- Markov transition mining over event sequences ----------------
    // First-order behavior model: P(next event type | current event
    // type) from per-user event streams — the primitive under
    // next-event prediction datasets, funnel leak analysis, and session
    // simulators. The lag step is a per-user window (partition size =
    // one user's event count, bounded at any corpus scale); transition
    // counting is one map-side-combined shuffle whose key space is
    // |types|² (25 here), and the row-normalizing window runs over that
    // transition MATRIX, never the event log. Counts are exact longs;
    // each probability is ONE IEEE division of exact integers —
    // identical in both engines.
    QueryDef("q_markov_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val t = events(s, dir)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("next_type"))
          .agg(count(lit(1)).as("cnt"))
        val wp = Window.partitionBy("prev_type")
        t.withColumn("p",
            col("cnt").cast("double") / sum(col("cnt")).over(wp).cast("double"))
          .select("prev_type", "next_type", "cnt", "p")
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |             epoch_us(ts) AS us
             |           FROM events),
             |l AS (SELECT event_type AS next_type,
             |        LAG(event_type, 1) OVER (PARTITION BY user_id
             |          ORDER BY us, event_id) AS prev_type
             |      FROM e),
             |t AS (SELECT prev_type, next_type,
             |        CAST(count(*) AS BIGINT) AS cnt
             |      FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2)
             |SELECT prev_type, next_type, cnt,
             |  CAST(cnt AS DOUBLE) /
             |    CAST(SUM(cnt) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
             |FROM t ORDER BY prev_type, next_type""".stripMargin)),

    // ---- winsorization (robust clipping at dyadic percentiles) --------
    // The data-cleaning TRANSFORM that complements q_outlier_mad's
    // flagging: clip each event value into [p12.5, p87.5] of its
    // event_type. Two grouped exact percentiles with per-type scalars
    // broadcast back — never a per-row window sort. Exactness: values
    // live on the integer-cents grid and 1/8, 7/8 are DYADIC quantile
    // positions — (n−1)·k/8 interpolation weights are exact binary
    // fractions over integer operands, so Spark `percentile` and DuckDB
    // `quantile_cont` agree bit-for-bit whatever their formula
    // factoring (the q_percentiles integer-domain precedent; p5/p95
    // would NOT be safe — 0.05 has no finite binary form). Clipped
    // values sit on the 1/8-cent grid, so the per-type sum is exact
    // through a decimal(18,3) cast.
    QueryDef("q_winsorize",
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        val pct = ev.groupBy("event_type")
          .agg(expr("percentile(vc, 0.125)").as("lo"),
            expr("percentile(vc, 0.875)").as("hi"))
        ev.join(broadcast(pct), "event_type")
          .withColumn("w", least(greatest(col("vc").cast("double"),
            col("lo")), col("hi")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            max(col("lo")).as("lo_cents"),
            max(col("hi")).as("hi_cents"),
            sum(when(col("vc") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
            sum(when(col("vc") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
            sum(col("w").cast(org.apache.spark.sql.types.DecimalType(18, 3)))
              .cast("double").as("wsum_cents"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |              CAST(round(value * 100) AS BIGINT) AS vc
             |            FROM events),
             |p AS (SELECT event_type,
             |        quantile_cont(vc, 0.125) AS lo,
             |        quantile_cont(vc, 0.875) AS hi
             |      FROM ev GROUP BY event_type),
             |c AS (SELECT ev.event_type, ev.vc, p.lo, p.hi,
             |        least(greatest(CAST(ev.vc AS DOUBLE), p.lo), p.hi) AS w
             |      FROM ev JOIN p USING (event_type))
             |SELECT event_type, COUNT(*) AS n,
             |  MAX(lo) AS lo_cents, MAX(hi) AS hi_cents,
             |  CAST(SUM(CASE WHEN vc < lo THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_clip_lo,
             |  CAST(SUM(CASE WHEN vc > hi THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_clip_hi,
             |  CAST(SUM(CAST(w AS DECIMAL(18,3))) AS DOUBLE) AS wsum_cents
             |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- ANN quality self-evaluation: recall@10 of the IVF path -------
    // The eval harness AS an operator: per probe, how much of the exact
    // brute-force top-10 the sign-bucket IVF path (probe its own cell
    // only — q_knn_ivf's routing) actually returns. Production tunes
    // nprobe/recall curves with exactly this query, so it belongs in
    // the engine, not a notebook. ONE scored frame (corpus × broadcast
    // probes, codegen cosine) is cached and feeds both rankings — the
    // eval probe set is a SAMPLE by construction, so the cached frame
    // is |sample|·corpus-bounded, and both cuts go through the
    // TopKPerKey map-side prune (≤ 10 rows per probe per partition
    // cross the shuffle — never a corpus-sized window sort). The
    // intersection is an equi-join of two 10-row-per-probe sets;
    // recall is exact-integer hits over the fixed k=10. Oracle replays
    // the identical cosine/bucket arithmetic and both rankings with
    // the same (cos DESC, vec_id) tie-break.
    QueryDef("q_ann_recall",
      (s, dir) => {
        val bucket = (c: String) =>
          expr(s"""CAST(element_at($c, 1) > 0 AS INT)
                  |+ 2 * CAST(element_at($c, 2) > 0 AS INT)
                  |+ 4 * CAST(element_at($c, 3) > 0 AS INT)
                  |+ 8 * CAST(element_at($c, 4) > 0 AS INT)""".stripMargin)
        val e = rd(s, dir, "embeddings")
        val probes = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
            bucket("embedding").as("pb"))
        val scored = e.filter(col("vec_id") >= 5)
          .withColumn("bucket", bucket("embedding"))
          .crossJoin(broadcast(probes))
          .withColumn("cos",
            graft.functions.VectorFunctions.vecCosine(col("embedding"), col("pe")))
          .select("probe_id", "pb", "vec_id", "bucket", "cos")
          .cache()
        val exact = graft.plans.TopK.perKey(scored, Seq("probe_id"),
          Seq(col("cos").desc, col("vec_id").asc), 10).select("probe_id", "vec_id")
        val approx = graft.plans.TopK.perKey(
          scored.filter(col("bucket") === col("pb")), Seq("probe_id"),
          Seq(col("cos").desc, col("vec_id").asc), 10).select("probe_id", "vec_id")
        val hits = exact.join(approx, Seq("probe_id", "vec_id"))
          .groupBy("probe_id").agg(count(lit(1)).as("hits"))
        probes.select("probe_id")
          .join(hits, Seq("probe_id"), "left")
          .na.fill(0L, Seq("hits"))
          .withColumn("recall_at_10", col("hits").cast("double") / 10.0)
          .orderBy("probe_id")
      },
      Some(s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe,
              |  CAST(embedding[1] > 0 AS INTEGER) + 2 * CAST(embedding[2] > 0 AS INTEGER)
              |  + 4 * CAST(embedding[3] > 0 AS INTEGER) + 8 * CAST(embedding[4] > 0 AS INTEGER)
              |    AS pb
              |  FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id, embedding,
              |  CAST(embedding[1] > 0 AS INTEGER) + 2 * CAST(embedding[2] > 0 AS INTEGER)
              |  + 4 * CAST(embedding[3] > 0 AS INTEGER) + 8 * CAST(embedding[4] > 0 AS INTEGER)
              |    AS bucket
              |  FROM embeddings WHERE vec_id >= 5),
              |sc AS (SELECT probe_id, pb, c.vec_id, bucket,
              |  list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
              |                   list_transform(pe, x -> CAST(x AS DOUBLE)))
              |  / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
              |                           list_transform(embedding, x -> CAST(x AS DOUBLE))))
              |     * sqrt(list_dot_product(list_transform(pe, x -> CAST(x AS DOUBLE)),
              |                             list_transform(pe, x -> CAST(x AS DOUBLE)))))
              |    AS cos
              |  FROM c, p),
              |ex AS (SELECT probe_id, vec_id FROM (
              |  SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id
              |    ORDER BY cos DESC, vec_id) AS rn FROM sc) WHERE rn <= 10),
              |ap AS (SELECT probe_id, vec_id FROM (
              |  SELECT probe_id, vec_id, ROW_NUMBER() OVER (PARTITION BY probe_id
              |    ORDER BY cos DESC, vec_id) AS rn FROM sc WHERE bucket = pb)
              |  WHERE rn <= 10),
              |h AS (SELECT ex.probe_id, CAST(count(*) AS BIGINT) AS hits
              |      FROM ex JOIN ap USING (probe_id, vec_id) GROUP BY 1)
              |SELECT p.probe_id AS probe_id, COALESCE(hits, 0) AS hits,
              |  CAST(COALESCE(hits, 0) AS DOUBLE) / 10.0 AS recall_at_10
              |FROM p LEFT JOIN h ON p.probe_id = h.probe_id
              |ORDER BY p.probe_id""".stripMargin))
  )

  val defs: Vector[QueryDef] = defsA ++ defsB
}
