package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** The two surfaces of the graft kernels: the SQL names and the fusion
 * rule come with [[GraftExtensions]] (which every [[GraftSession]]
 * session installs), and the Column API works in any session. */
class GraftExtensionsSpec extends AnyFunSuite {
  import SparkTestBase.sf

  /** Run `body` in a fresh session on the shared SparkContext, built by
   * `builder`, then restore the shared session. */
  private def inSession[T](builder: SparkSession.Builder)(body: SparkSession => T): T = {
    val orig = SparkTestBase.spark // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = builder.getOrCreate()
    assert(s ne orig)
    // do NOT s.stop(): the SparkContext is shared with every other spec
    try body(s)
    finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("GraftExtensions installs functions and rule in one switch") {
    // `spark.sql.extensions` is a STATIC conf read at SparkContext
    // creation — unreachable from a test JVM whose shared context
    // already exists — so drive the same class through the equivalent
    // builder hook (cluster deployments use the conf form)
    inSession(SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")) { s =>
      // SQL-level function
      val cos = s.sql(
        """SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))""".stripMargin)
        .head.getDouble(0)
      assert(cos == 1.0)

      // optimizer rule active: composed form fuses (non-literal input so
      // constant folding can't collapse the expression first)
      val fused = s.range(3)
        .selectExpr("array(CAST(id AS FLOAT)) AS a",
          "array(CAST(id + 1 AS FLOAT)) AS b")
        .selectExpr(
          "vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b))) AS c")
      assert(fused.queryExecution.optimizedPlan.expressions
        .map(_.toString).mkString.contains("vec_cosine"))
    }
  }

  test("every GraftExtensions SQL name resolves in a GraftSession session") {
    val names = GraftExtensions.sqlFunctions.map(_._1)
    assert(names.distinct.size == names.size, names)
    val missing = names.filterNot(n => SparkTestBase.spark.catalog.functionExists(n))
    assert(missing.isEmpty, s"unresolved in the shared session: $missing")
  }

  /** Every Column wrapper (and the aggregators' Column API) over the
   * sf0.001 corpus: 20 docs, 20 embeddings, one Bloom filter. */
  private def wrapperRows(s: SparkSession): Seq[Seq[Row]] = {
    def sorted(df: DataFrame, key: String): Seq[Row] = df.orderBy(key).collect().toSeq
    val docs = s.read.parquet(s"$sf/documents.parquet").orderBy("doc_id").limit(20)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hh", HashArray.arrayHash(col("toks")))
    val kernels = docs.select(col("doc_id"),
      SubstrHash.windows(col("text"), 5),
      SubstrHash.windowsRle(col("text"), 5),
      Shingles.of(col("toks"), 3),
      col("hh"),
      HashArray.arrayHashHi32(col("toks")),
      BigramHashes.of(col("toks")),
      TokenMaxRun.maxRunCol(col("toks")),
      MinHashSig.sig(col("hh")),
      SortedIntersect.of(sort_array(array_distinct(col("hh"))),
        sort_array(array_distinct(HashArray.arrayHash(Shingles.of(col("toks"), 1))))))
    val emb = s.read.parquet(s"$sf/embeddings.parquet").orderBy("vec_id").limit(20)
      .withColumn("qp", expr("transform(embedding, x -> CAST(round(x * 100) AS BIGINT))"))
      .withColumn("pqq", expr("aggregate(qp, 0L, (a, v) -> a + v * v)"))
    val vectors = emb.select(col("vec_id"),
      VectorFunctions.vecDot(col("embedding"), col("embedding")),
      VectorFunctions.vecCosine(col("embedding"), reverse(col("embedding"))),
      VectorFunctions.int8CoarseCos(col("embedding"), col("qp"), col("pqq")))
    val toks = docs.select((col("doc_id") % 3).as("g"), explode(col("toks")).as("tok"))
    val aggs = toks.groupBy("g").agg(
      MinHashAgg.minhash(32)(xxhash64(col("tok"))),
      SimHashAgg.simhash(md5(col("tok"))),
      BloomFunctions.bloomAgg(col("tok"), 100))
    val filter = sorted(aggs, "g").head.getAs[Array[Byte]](3)
    val probe = toks.select(col("tok"), BloomFunctions.bloomContains(filter, col("tok")))
      .distinct()
    Seq(sorted(kernels, "doc_id"), sorted(vectors, "vec_id"),
      sorted(aggs.drop(aggs.columns(3)), "g"), sorted(probe, "tok"))
  }

  test("every Column wrapper works in a bare session (no extensions, no registration)") {
    // built the way the benchmark harness builds its session
    val bare = inSession(SparkSession.builder()) { s =>
      assert(!s.catalog.functionExists("vec_dot"),
        "the bare session must not carry the graft SQL names")
      wrapperRows(s)
    }
    val shared = wrapperRows(SparkTestBase.spark)
    assert(bare.map(_.size) == shared.map(_.size))
    assert(shared.forall(_.nonEmpty))
    bare.zip(shared).foreach { case (b, w) => assert(b == w) }
  }
}
