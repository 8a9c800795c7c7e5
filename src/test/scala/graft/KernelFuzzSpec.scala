package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/**
 * Randomized parity fuzz for the round-9 scan-stage kernels: the
 * real-corpus pins in ShinglesSpec/HashArraySpec prove parity on the
 * data the gate sees; this spec drives the SAME equalities over
 * adversarial generated inputs — multi-byte and astral unicode,
 * empty/whitespace-degenerate tokens, token counts straddling the
 * n-gram boundary — where byte-length vs char-length confusion or
 * dedup-order bugs would hide. Values route through actual Spark SQL
 * execution (codegen path), not direct helper calls, so the generated
 * code is what's under test.
 */
class KernelFuzzSpec extends AnyFunSuite {
  import SparkTestBase.spark

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  // tokens drawn from a pool that forces collisions (dedup pressure)
  // plus unicode shapes: ascii, accented (2-byte), CJK (3-byte),
  // astral emoji (4-byte surrogate pairs), and the empty string
  private val tokGen: Gen[String] = Gen.oneOf(
    Gen.oneOf("a", "b", "ab", "", "the"),
    Gen.oneOf("añejo", "日本", "語", "🙂x", "Ωμέγα"),
    Gen.listOfN(3, Gen.alphaNumChar).map(_.mkString))
  private val toksGen: Gen[List[String]] = Gen.choose(0, 9)
    .flatMap(n => Gen.listOfN(n, tokGen))

  private def lit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  test("word_shingles ≡ array_distinct∘transform∘concat_ws on generated token arrays") {
    check(Prop.forAll(toksGen) { toks =>
      val arr =
        if (toks.isEmpty) "CAST(array() AS ARRAY<STRING>)"
        else toks.map(lit).mkString("array(", ", ", ")")
      val r = spark.sql(
        s"""SELECT word_shingles($arr, 3) AS k,
           |  CASE WHEN size($arr) < 3 THEN CAST(array() AS ARRAY<STRING>)
           |  ELSE array_distinct(transform(sequence(0, size($arr) - 3),
           |    i -> concat_ws(' ', slice($arr, i + 1, 3)))) END AS w
           |""".stripMargin).head()
      r.getSeq[String](0) == r.getSeq[String](1)
    })
  }

  test("xxhash64_array ≡ per-element xxhash64 on generated token arrays") {
    check(Prop.forAll(toksGen) { toks =>
      val arr =
        if (toks.isEmpty) "CAST(array() AS ARRAY<STRING>)"
        else toks.map(lit).mkString("array(", ", ", ")")
      val r = spark.sql(
        s"""SELECT xxhash64_array($arr) AS k,
           |  transform($arr, x -> xxhash64(x)) AS w""".stripMargin).head()
      r.getSeq[Long](0) == r.getSeq[Long](1)
    })
  }

  test("substr_hash_windows rolling algebra matches independent window hashes on unicode") {
    val strGen: Gen[String] = Gen.choose(0, 12)
      .flatMap(n => Gen.listOfN(n, tokGen)).map(_.mkString)
    check(Prop.forAll(strGen, strGen) { (s1, s2) =>
      // the kernel's prefix-difference algebra over the FULL string
      // must agree with hashing each char window in isolation (where
      // the prefix math degenerates) — the equality that makes "equal
      // substrings hash equal" hold across documents with different
      // surrounding bytes. Full-string side runs through Spark codegen;
      // per-window side through the shared static helper.
      val s = s1 + s2
      val k = 3
      if (s.codePointCount(0, s.length) < k) true
      else {
        val r = spark.sql(
          s"""SELECT substr_hash_windows(${lit(s)}, $k) AS h""").head()
          .getSeq[Long](0)
        val cps = s.codePoints().toArray
        val wins = (0 to cps.length - k).map(i => new String(cps, i, k))
        val again = wins.map(w => graft.functions.SubstrHash.hashWindows(
          org.apache.spark.unsafe.types.UTF8String.fromString(w), k))
        again.forall(_.length == 1) &&
          r.toList == again.map(_.head).toList
      }
    })
  }

  test("substr_hash_windows_rle ≡ sorted multiset of substr_hash_windows on generated unicode") {
    val strGen: Gen[String] = Gen.choose(0, 12)
      .flatMap(n => Gen.listOfN(n, tokGen)).map(_.mkString)
    check(Prop.forAll(strGen) { s =>
      val k = 3
      val r = spark.sql(
        s"""SELECT substr_hash_windows_rle(${lit(s)}, $k) AS a,
           |       substr_hash_windows(${lit(s)}, $k) AS h""".stripMargin)
        .head()
      val rle = r.getSeq[org.apache.spark.sql.Row](0)
        .map(w => (w.getLong(0), w.getLong(1)))
      val raw = r.getSeq[Long](1)
      val expected = raw.groupBy(identity).view
        .mapValues(_.size.toLong).toSeq.sortBy(_._1)
      rle.toList == expected.toList &&
        rle.map(_._1) == rle.map(_._1).sorted &&
        rle.map(_._2).sum == raw.length.toLong
    })
  }

  test("token_max_run ≡ the Gopher lambda on generated arrays with nulls") {
    // the lambda's null contract is subtle (x = t never true for null;
    // array_max ignores the null transform slots) — fuzz it alongside
    // the unicode/collision pool the other kernels use
    val elemGen: Gen[String] =
      Gen.frequency(9 -> tokGen.map(lit), 1 -> Gen.const("CAST(NULL AS STRING)"))
    val arrGen: Gen[List[String]] = Gen.choose(0, 10)
      .flatMap(n => Gen.listOfN(n, elemGen))
    check(Prop.forAll(arrGen) { elems =>
      val arr =
        if (elems.isEmpty) "CAST(array() AS ARRAY<STRING>)"
        else elems.mkString("array(", ", ", ")")
      val r = spark.sql(
        s"""SELECT token_max_run($arr) AS k,
           |  CAST(array_max(transform(array_distinct($arr),
           |    t -> size(filter($arr, x -> x = t)))) AS BIGINT) AS l
           |""".stripMargin).head()
      // sole divergence by design: an ALL-null array — the lambda
      // yields size(filter(...)) = 0 per null slot → 0, same as the
      // kernel; empty array → both null. So plain null-safe equality.
      (r.isNullAt(0) && r.isNullAt(1)) ||
        (!r.isNullAt(0) && !r.isNullAt(1) && r.getLong(0) == r.getLong(1))
    })
  }

  test("word_bigram_hashes ≡ the composite lambda on generated arrays with nulls") {
    // the r16 kernel's null contract: a null-adjacent pair hashes to
    // xxhash64's seed (concat → null, xxhash64(null) passes the seed
    // through), a null ARRAY yields null, < 2 tokens an empty array —
    // all inherited from the composite. BigramHashesSpec pins parity
    // on the real corpus; this drives the same equality over the
    // unicode/collision/null pool
    val elemGen: Gen[String] =
      Gen.frequency(9 -> tokGen.map(lit), 1 -> Gen.const("CAST(NULL AS STRING)"))
    val arrGen: Gen[List[String]] = Gen.choose(0, 10)
      .flatMap(n => Gen.listOfN(n, elemGen))
    check(Prop.forAll(arrGen) { elems =>
      val arr =
        if (elems.isEmpty) "CAST(array() AS ARRAY<STRING>)"
        else elems.mkString("array(", ", ", ")")
      val r = spark.sql(
        s"""SELECT word_bigram_hashes($arr) AS k,
           |  CASE WHEN size($arr) < 2 THEN CAST(array() AS ARRAY<BIGINT>)
           |  ELSE transform(sequence(0, size($arr) - 2),
           |    i -> xxhash64(concat(element_at($arr, i + 1), ' ',
           |                         element_at($arr, i + 2)))) END AS l
           |""".stripMargin).head()
      r.getSeq[Long](0) == r.getSeq[Long](1)
    })
  }
}
