package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JsonlSource

class JsonlSourceSpec extends AnyFunSuite {
  import SparkTestSession._

  private def scratch(name: String): String = {
    val p = s"${GraftSession.target}/jsonl_spec/$name"
    p
  }

  test("gzip JSONL round trip preserves the corpus exactly") {
    val docs = Tables.documents(spark, SfDir)
    val path = JsonlSource.write(docs, scratch("roundtrip"))
    val back = JsonlSource.read(spark, docs.schema, path)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "lang", "source", "n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSet
    assert(key(back) == key(docs))
  }

  test("special characters survive the JSON escape round trip") {
    import spark.implicits._
    val nasty = Seq(
      (1L, "line\nbreak and \"quotes\" and \\backslash"),
      (2L, "tab\there, unicode: café ß 中文"),
      (3L, "control char:  bell: ")
    ).toDF("doc_id", "text")
    val path = JsonlSource.write(nasty, scratch("nasty"), compression = "none")
    val back = JsonlSource.read(spark, nasty.schema, path)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = nasty.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == want)
  }

  test("FAILFAST read fails loudly on a corrupt line instead of nulling it") {
    import spark.implicits._
    val dir = scratch("corrupt")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(
      Paths.get(s"$dir/part-00000.json"),
      """{"doc_id": 1, "text": "fine"}
        |{not json at all
        |{"doc_id": 2, "text": "also fine"}
        |""".stripMargin)
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    val e = intercept[Exception] {
      JsonlSource.read(spark, schema, dir).collect()
    }
    assert(e.getMessage != null)
  }

  test("permissive variant quarantines corrupt lines via _corrupt_record") {
    import spark.implicits._
    val dir = scratch("quarantine")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(
      Paths.get(s"$dir/part-00000.json"),
      """{"doc_id": 1, "text": "fine"}
        |{not json at all
        |{"doc_id": 2, "text": "also fine"}
        |""".stripMargin)
    val schema = Seq((1L, "x")).toDF("doc_id", "text").schema
    // project a data column alongside _corrupt_record — querying the
    // corrupt column alone over a raw scan is rejected by Spark (see
    // the JsonlSource scaladoc)
    val rows = JsonlSource.permissiveWithCorruptColumn(spark, schema, dir)
      .select(col("doc_id"), col("_corrupt_record")).collect()
    val clean = rows.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    val bad = rows.count(!_.isNullAt(1))
    assert(clean == Set(1L, 2L))
    assert(bad == 1)
  }
}
