package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.chschema.{ClickHouseType, DdlRenderer}

/**
 * Golden tests for the DDL renderer, byte-for-byte against the reference's
 * expected outputs:
 *  - fixture 1: the reference's only test (src/parquetutils.rs:296-418,
 *    golden at :399-412)
 *  - fixture 2: the map case from resources/arrow.py:7-32 (traced through
 *    visit_map, src/parquetutils.rs:223-261)
 *  - fixture 3: the README worked example (README.md:32-78) where the pk
 *    IS a column
 */
class DdlRendererSpec extends AnyFunSuite {

  private val fixture1 = StructType(Seq(
    StructField("a", IntegerType),
    StructField("b", StringType),
    StructField("c", StructType(Seq(
      StructField("a", StringType), StructField("b", StringType)))),
    StructField("d", ArrayType(StructType(Seq(StructField("a", StringType)))))
  ))

  test("reference golden: nested struct + list<struct> (src/parquetutils.rs:399-412)") {
    val expected =
      """drop table if exists T;
        |create table T (
        |    a Nullable(Int32)
        |    , b Nullable(String)
        |    , c Tuple(
        |        a Nullable(String)
        |        , b Nullable(String)
        |    )
        |    , d Nested (
        |        a Nullable(String)
        |    )
        |) engine = MergeTree() primary key (foo);
        |""".stripMargin
    assert(DdlRenderer.render(fixture1, "T", "foo") == expected)
  }

  test("map golden: map<string, struct> (resources/arrow.py:7-32 fixture)") {
    val schema = StructType(fixture1.fields :+
      StructField("e", MapType(StringType, StructType(Seq(
        StructField("a", StringType), StructField("b", StringType))))))
    val expected =
      """drop table if exists T;
        |create table T (
        |    a Nullable(Int32)
        |    , b Nullable(String)
        |    , c Tuple(
        |        a Nullable(String)
        |        , b Nullable(String)
        |    )
        |    , d Nested (
        |        a Nullable(String)
        |    )
        |    , e Map (
        |        String
        |        , Tuple(
        |            a Nullable(String)
        |            , b Nullable(String)
        |        )
        |    )
        |) engine = MergeTree() primary key (foo);
        |""".stripMargin
    assert(DdlRenderer.render(schema, "T", "foo") == expected)
  }

  test("README golden: primary key is a real column → bare type (README.md:32-78)") {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType)))
    val expected =
      """drop table if exists people;
        |create table people (
        |    id Int32
        |    , name Nullable(String)
        |) engine = MergeTree() primary key (id);
        |""".stripMargin
    assert(DdlRenderer.render(schema, "people", "id") == expected)
  }

  test("primitive list element renders as `element Nullable(T)` (src/parquetutils.rs:163-168)") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val expected =
      """drop table if exists embeddings;
        |create table embeddings (
        |    vec_id Int64
        |    , embedding Nested (
        |        element Nullable(Float32)
        |    )
        |    , label Nullable(Int32)
        |) engine = MergeTree() primary key (vec_id);
        |""".stripMargin
    assert(DdlRenderer.render(schema, "embeddings", "vec_id") == expected)
  }

  test("legacy lossy date/timestamp mapping (src/parquetutils.rs:94-95)") {
    val schema = StructType(Seq(
      StructField("d", DateType), StructField("t", TimestampType)))
    val out = DdlRenderer.render(schema, "x", "d")
    assert(out.contains("    d Int32\n"))
    assert(out.contains("    , t Nullable(Int64)\n"))
  }

  test("extended mode maps losslessly; legacy raises typed error (SURVEY §1.4.4)") {
    val schema = StructType(Seq(
      StructField("d", DateType), StructField("t", TimestampType),
      StructField("m", DecimalType(12, 2)), StructField("s", ShortType)))
    val out = DdlRenderer.render(schema, "x", "d", ClickHouseType.Extended)
    assert(out.contains("d Date\n"))
    assert(out.contains(", t Nullable(DateTime64(6))\n"))
    assert(out.contains(", m Nullable(Decimal(12, 2))\n"))
    assert(out.contains(", s Nullable(Int16)\n"))
    assertThrows[ClickHouseType.UnsupportedType](
      DdlRenderer.render(StructType(Seq(StructField("m", DecimalType(12, 2)))), "x", "m"))
  }

  test("LowCardinality wraps nominated String columns in extended mode only") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("status", StringType),
      StructField("note", StringType), StructField("n", IntegerType)))
    val ext = DdlRenderer.render(schema, "t", "id", ClickHouseType.Extended,
      lowCardinality = Set("status", "n"))
    assert(ext.contains(", status LowCardinality(Nullable(String))\n"))
    assert(ext.contains(", note Nullable(String)\n"))  // not nominated
    assert(ext.contains(", n Nullable(Int32)\n"))      // nominated but not String
    val legacy = DdlRenderer.render(schema, "t", "id", ClickHouseType.Legacy,
      lowCardinality = Set("status"))
    assert(!legacy.contains("LowCardinality"))         // legacy byte-compat wins
    val extPk = DdlRenderer.render(schema, "t", "status", ClickHouseType.Extended,
      lowCardinality = Set("status"))
    assert(extPk.contains(", status LowCardinality(String)\n")) // pk non-null
  }

  test("extended mode renders primitive lists as Array(T) (SURVEY §2.A R10)") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("tags", ArrayType(StructType(Seq(StructField("t", StringType)))))))
    val ext = DdlRenderer.render(schema, "e", "vec_id", ClickHouseType.Extended)
    assert(ext.contains(", embedding Array(Nullable(Float32))\n"))
    // struct lists keep the Nested form in both modes
    assert(ext.contains(", tags Nested (\n"))
    val legacy = DdlRenderer.render(schema, "e", "vec_id")
    assert(legacy.contains("embedding Nested (\n        element Nullable(Float32)\n    )"))
  }

  test("deep nesting: map value tuple containing a list") {
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("m", MapType(IntegerType, StructType(Seq(
        StructField("tags", ArrayType(StringType)),
        StructField("n", DoubleType)))))))
    val expected =
      """drop table if exists deep;
        |create table deep (
        |    k Int64
        |    , m Map (
        |        Int32
        |        , Tuple(
        |            tags Nested (
        |                element Nullable(String)
        |            )
        |            , n Nullable(Float64)
        |        )
        |    )
        |) engine = MergeTree() primary key (k);
        |""".stripMargin
    assert(DdlRenderer.render(schema, "deep", "k") == expected)
  }

  test("Legacy-mode unsupported-type error suggests --mode extended when it applies") {
    val ex = intercept[ClickHouseType.UnsupportedType](
      DdlRenderer.render(StructType(Seq(StructField("d", DecimalType(12, 2)))), "x", "d"))
    assert(ex.getMessage.contains("pass --mode extended"), ex.getMessage)
    // a type neither mode supports must NOT advertise the escape hatch
    val ex2 = intercept[ClickHouseType.UnsupportedType](
      ClickHouseType.fromSpark(CalendarIntervalType, ClickHouseType.Legacy))
    assert(!ex2.getMessage.contains("--mode extended"), ex2.getMessage)
  }

  test("extended mode emits partition by / multi-column order by in the MergeTree clause") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DateType),
      StructField("v", DoubleType)))
    val ext = DdlRenderer.render(schema, "t", "id", ClickHouseType.Extended,
      partitionBy = Some("toYYYYMM(d)"), orderBy = Seq("id", "d"))
    assert(ext.endsWith(
      ") engine = MergeTree() partition by (toYYYYMM(d)) order by (id, d) primary key (id);\n"),
      ext)
    // absent flags leave the frame byte-identical to the reference form
    val plain = DdlRenderer.render(schema, "t", "id", ClickHouseType.Extended)
    assert(plain.endsWith(") engine = MergeTree() primary key (id);\n"), plain)
    // Legacy mode ignores them: byte-compat with the reference golden wins
    val legacy = DdlRenderer.render(schema, "t", "id", ClickHouseType.Legacy,
      partitionBy = Some("toYYYYMM(d)"), orderBy = Seq("id"))
    assert(legacy.endsWith(") engine = MergeTree() primary key (id);\n"), legacy)
  }

  test("SchemaGen CLI parse: required flags, modes, extras, warnings") {
    import graft.chschema.SchemaGen
    val base = Array("--parquet-path", "in.parquet",
      "--clickhouse-schema-path", "out.sql",
      "--table-name", "t", "--primary-key", "k")
    val c = SchemaGen.parseArgs(base)
    assert(c.parquetPath == "in.parquet" && c.table == "t" && c.pk == "k")
    assert(c.mode == ClickHouseType.Legacy && c.warnings.isEmpty)

    val ext = SchemaGen.parseArgs(base ++ Array("--mode", "extended",
      "--partition-by", "toYYYYMM(d)", "--order-by", "a, b,", "--low-cardinality", "auto"))
    assert(ext.mode == ClickHouseType.Extended)
    assert(ext.partitionBy.contains("toYYYYMM(d)"))
    assert(ext.orderBy == Seq("a", "b"))
    assert(ext.warnings.isEmpty)

    // extended-only flags in Legacy mode warn instead of silently applying
    val warned = SchemaGen.parseArgs(base ++ Array("--order-by", "a",
      "--low-cardinality", "x"))
    assert(warned.warnings.size == 2, warned.warnings.toString)

    val thrown = intercept[RuntimeException](
      SchemaGen.parseArgs(Array("--table-name", "t")))
    assert(thrown.getMessage.contains("missing required flag"))

    // only the two mode names parse; a misspelt or mis-cased mode fails
    // instead of silently rendering lossy Legacy DDL
    assert(SchemaGen.parseArgs(base ++ Array("--mode", "legacy")).mode ==
      ClickHouseType.Legacy)
    for (bad <- Seq("extnded", "Extended")) {
      val e = intercept[RuntimeException](
        SchemaGen.parseArgs(base ++ Array("--mode", bad)))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
  }
}
