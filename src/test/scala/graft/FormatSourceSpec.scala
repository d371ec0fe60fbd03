package graft


import org.apache.spark.sql.functions._
import graft.sources.FormatTableSource

/** Landing-format round trips: csv, json-lines, and orc each written
  * and re-read through the schema-declared [[FormatTableSource]], with
  * exact multiset equality asserted against the original frame. The
  * fixture rows stress the quoting paths: commas, double quotes,
  * newlines-in-values (csv's worst case), multibyte text, nulls, and
  * negative/zero numerics.
  */
class FormatSourceSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val fixture = Seq(
    (1L, "plain", 3.5, "en"),
    (2L, "comma, inside", -0.25, "de"),
    (3L, "quote \" inside", 0.0, "zh"),
    (4L, "newline\ninside", 1e9, "es"),
    (5L, "中文 😀 multibyte", -1e-6, null.asInstanceOf[String]),
    (6L, null.asInstanceOf[String], 42.0, "fr")
  ).toDF("id", "text", "score", "lang")

  // declared landing schemas are all-nullable: a file format carries no
  // not-null guarantee, so the read-back schema is the nullable form of
  // the written frame's
  private lazy val declared = org.apache.spark.sql.types.StructType(
    fixture.schema.fields.map(_.copy(nullable = true)))

  private def roundtrip(format: String): Unit = {
    withTempDir(s"graft_$format") { dir =>
      val path = s"${dir.getAbsolutePath}/t"
      fixture.write.format(format).save(path)
      val back = FormatTableSource(format, path, declared).load(spark)
      assert(back.schema == declared,
        s"$format must reproduce the declared schema exactly")
      assert(back.exceptAll(fixture).isEmpty &&
        fixture.exceptAll(back).isEmpty,
        s"$format round trip must be lossless")
    }
  }

  test("csv round trip is lossless under declared schema") {
    // csv has no types at all — the declared schema is what makes the
    // read well-defined; quoting covers commas/quotes/newlines
    roundtrip("csv")
  }

  test("json-lines round trip is lossless under declared schema") {
    roundtrip("json")
  }

  test("orc round trip is lossless under declared schema") {
    roundtrip("orc")
  }

  test("malformed rows under a declared schema null out, not crash") {
    // PERMISSIVE (the default) keeps the pipeline alive on dirty landing
    // data: a non-numeric id parses to null instead of failing the job
    withTempDir("graft_dirty") { dir =>
      val path = s"${dir.getAbsolutePath}/dirty"
      Seq("""{"id": 1, "text": "ok", "score": 2.0, "lang": "en"}""",
        """{"id": "NOT_A_NUMBER", "text": "bad", "score": 1.0, "lang": "en"}""")
        .toDF("value").coalesce(1).write.text(path)
      val back = FormatTableSource("json", path, declared).load(spark)
      assert(back.count() == 2)
      assert(back.filter(col("id").isNull).count() == 1,
        "the malformed row must survive with a null id")
    }
  }

  test("format source composes with the engine's operators") {
    withTempDir("graft_compose") { dir =>
      val path = s"${dir.getAbsolutePath}/docs"
      graft.sources.Tables.documents(spark, sf0001)
        .write.format("json").save(path)
      val viaJson = FormatTableSource("json", path,
        graft.sources.Tables.documents(spark, sf0001).schema).load(spark)
      // same tokenization result regardless of landing format
      val a = viaJson.select(col("doc_id"),
        graft.operators.TextOps.tokenCount(col("text")).as("n"))
      val b = graft.sources.Tables.documents(spark, sf0001)
        .select(col("doc_id"),
          graft.operators.TextOps.tokenCount(col("text")).as("n"))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
  }
}
