package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MinHashAgg

class MinHashAggSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sf}

  test("signature is order- and partitioning-invariant, k slots, all set") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val mh = MinHashAgg.minhash(16)
    val one = toks.repartition(1).groupBy("doc_id").agg(mh(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val many = toks.repartition(13).groupBy("doc_id").agg(mh(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(one.nonEmpty && one == many)
    assert(one.values.forall(s => s.length == 16 && s.forall(_ != Long.MaxValue)))
  }

  test("near-identical docs collide on most slots, unrelated docs do not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"), // one token differs
      (3L, "q r s t u v w x y z")).toDF("id", "text")
    val toks = docs.select(col("id"), explode(split(col("text"), " ")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val sig = toks.groupBy("id").agg(MinHashAgg.minhash(32)(col("h")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(agree(sig(1L), sig(2L)) >= 20) // Jaccard 9/11 → most slots agree
    assert(agree(sig(1L), sig(3L)) <= 5)  // disjoint sets → few/no collisions
  }

  test("the session exposes the aggregators to pure SQL") {
    val df = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    df.createOrReplaceTempView("gf_docs")
    val r = spark.sql(
      """SELECT doc_id,
        |  minhash32(xxhash64(tok)) AS sig,
        |  simhash32(md5(tok)) AS sh
        |FROM (SELECT doc_id, explode(array_distinct(split(text, ' '))) AS tok
        |      FROM gf_docs)
        |GROUP BY doc_id""".stripMargin).collect()
    assert(r.length == 20)
    assert(r.forall(_.getSeq[Long](1).length == 32))
  }

  test("the session exposes the WHOLE kit to pure SQL") {
    // six modules were missing from the SQL surface until the r18
    // review — a pure-SQL user got 'Undefined function' for functions
    // the scaladoc promised
    val r = spark.sql(
      """SELECT
        |  size(word_shingles(array('a','b','c','d'), 3)) AS sh,
        |  size(xxhash64_array(array('x','y'))) AS xa,
        |  size(word_bigram_hashes(array('a','b','c'))) AS bg,
        |  token_max_run(array('a', 'a', 'b')) AS tr,
        |  sorted_long_intersect(array(1L,2L,3L), array(2L,3L,9L))
        |    AS si""".stripMargin).head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 2 && r.getInt(2) == 2 &&
      r.getLong(3) == 2L && r.getInt(4) == 2, r.toString)
  }

  test("null inputs carry no mass through the aggregators (no crash)") {
    // pre-r18: a null key crashed HeavyHittersAgg's buffer encoder
    // (Catalyst map keys are non-nullable) and simhash32 NPE'd on
    // md5(NULL); both now skip null like the expressions they replace
    val r = spark.sql(
      """SELECT simhash32(md5(tok)) AS sh
        |FROM VALUES ('a'), (CAST(NULL AS STRING)), ('a') AS t(tok)"""
        .stripMargin).head()
    val ref = spark.sql(
      "SELECT simhash32(md5(tok)) FROM VALUES ('a'), ('a') AS t(tok)").head()
    assert(r.getLong(0) == ref.getLong(0),
      "null must contribute no simhash votes")
    import spark.implicits._
    val hh = Seq(Some("x"), None, Some("x"), Some("y")).toDF("tok")
      .select(graft.functions.HeavyHittersAgg.heavyHitters(4)(col("tok"))
        .as("m")).head().getMap[String, Long](0)
    assert(hh == Map("x" -> 2L, "y" -> 1L),
      s"null must carry no heavy-hitter mass, got $hh")
  }

  test("simhash: out-of-alphabet chars carry no votes (md5-lowercase-hex contract)") {
    // pre-r19 the nibble decode accepted ANY char ('A' read via c-'0'
    // = 17, a garbage +1 vote); the contract is md5()'s lowercase hex,
    // so anything outside [0-9a-f] must carry no mass — the same
    // posture as null/short input (r18 ADVICE)
    val agg = new graft.functions.SimHashAgg
    // 'a' (nib 10 → +1) votes bit 0; uppercase 'A' at position 1 must
    // NOT vote (old decode set bit 1)
    assert(agg.finish(agg.reduce(agg.zero, "aA")) == 1L,
      "uppercase hex must be skipped, not decoded as garbage")
    // an all-garbage string contributes nothing at all
    assert(agg.finish(agg.reduce(agg.zero, "G!Z@ XYZT")) == 0L,
      "non-hex chars must carry no votes")
    // and garbage mixed into a real digest leaves the valid nibbles'
    // votes exactly as a clean reduce of those nibbles produces
    val clean = agg.finish(agg.reduce(agg.zero, "0f3b"))
    val dirty = agg.finish(
      Seq("0Q3Q", "Qf3b", "0fQb", "QQQb", "0f3Q")
        .foldLeft(agg.zero)(agg.reduce))
    // per-position vote totals: each position's lowercase-hex votes
    // across the dirty batch sum to >0 iff the clean single digest's
    // did (each valid nibble appears an odd positive count per slot)
    assert(dirty == clean, s"garbage perturbed valid votes: $dirty vs $clean")
  }
}
