package graft

import org.apache.spark.sql.functions._
import graft.core.{Catalog, CollectionConfig}
import graft.functions.TextFunctions
import graft.sources.Ingest

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_ingest")

  test("jsonl import infers schema, assigns keys; glob append continues keys") {
    val dir = tmp()
    // derive JSONL fixtures from the driver's documents table
    val docs = Tables.documents(spark, sf0001).limit(30)
    docs.limit(20).write.json(s"$dir/part1")
    docs.filter(col("doc_id") >= 20).write.json(s"$dir/part2")

    val cat = new Catalog(spark, tmp())
    val c = cat.create(CollectionConfig(name = "j"))
    Ingest.importJsonl(c, s"$dir/part1/*.json")
    assert(c.count() == 20)
    assert(c.df.schema.fieldNames.contains("doc_id")) // inferred, not declared
    val keys1 = c.df.select("_key").as[Long].collect().sorted
    assert(keys1.toSeq == (1L to 20L))

    Ingest.appendJsonl(c, s"$dir/part2/*.json")
    val keys2 = c.df.select("_key").as[Long].collect().sorted
    assert(keys2.toSeq == (1L to 30L))
  }

  test("parquet import + append with schema drift") {
    val dir = tmp()
    Seq(("a", 1)).toDF("text", "v").write.parquet(s"$dir/p1")
    Seq(("b", "extra")).toDF("text", "unknown").write.parquet(s"$dir/p2")
    val cat = new Catalog(spark, tmp())
    val c = cat.create(CollectionConfig(name = "p"))
    Ingest.importParquet(c, s"$dir/p1")
    Ingest.appendParquet(c, s"$dir/p2") // 'v' -> null, 'unknown' dropped
    val rows = c.df.orderBy("_key").collect()
    assert(rows.length == 2 && rows(1).isNullAt(rows(1).fieldIndex("v")))
  }

  test("corrupt jsonl lines are quarantined, not dropped or fatal") {
    val dir = tempDir("graft_corrupt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/in.jsonl"),
      """{"id": 1, "text": "ok one"}
        |{"id": 2, "text": "ok two"}
        |{"id": 3 "text": MANGLED
        |{"id": 4, "text": "ok four"}
        |""".stripMargin)
    val checked = graft.sources.Ingest.readJsonlChecked(spark, s"$dir/in.jsonl")
    assert(checked.good.count() == 3, "all well-formed lines parse")
    assert(checked.good.columns.toSet == Set("id", "text"),
      "corrupt column dropped from good rows")
    val quarantined = checked.quarantined.collect().map(_.getString(0))
    assert(quarantined.length == 1 && quarantined.head.contains("MANGLED"),
      "the raw bad line is preserved for inspection/replay")
    checked.release() // the shared parse cache must be caller-releasable
    checked.release() // ...and idempotent
    // a fully clean file quarantines nothing
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/clean.jsonl"),
      """{"id": 1}
        |""".stripMargin)
    val c2 = graft.sources.Ingest.readJsonlChecked(spark, s"$dir/clean.jsonl")
    assert(c2.good.count() == 1 && c2.quarantined.count() == 0)
    c2.release()
    // a LEGITIMATE field named "_corrupt" is ordinary data, not the
    // parser sentinel — good rows keep it, nothing is quarantined
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/field.jsonl"),
      """{"id": 1, "_corrupt": "just a value"}
        |{"id": 2 BROKEN
        |""".stripMargin)
    val c3 = graft.sources.Ingest.readJsonlChecked(spark, s"$dir/field.jsonl")
    assert(c3.good.columns.contains("_corrupt"), "user _corrupt field survives")
    assert(c3.good.count() == 1 && c3.quarantined.count() == 1)
    c3.release()
  }

  test("isMostlyText boundary matches the reference's 50-char heuristic") {
    val page50 = "x" * 50
    val page49 = "y" * 49
    assert(TextFunctions.isMostlyText(Seq(page50)))
    assert(!TextFunctions.isMostlyText(Seq(page49)))
    assert(!TextFunctions.isMostlyText(Seq.empty))
    // half the sampled pages textish -> accepted
    assert(TextFunctions.isMostlyText(Seq(page50, page49)))
    val mostlyEmpty = Seq(page50) ++ Seq.fill(8)(" ")
    assert(!TextFunctions.isMostlyText(mostlyEmpty))
  }
}

class MultiColumnIndexSpec extends SparkSpec {
  import spark.implicits._

  test("multiple index columns get independent indexes and searches") {
    val root = tempDir("graft_mc")
    val cat = new graft.core.Catalog(spark, root)
    val c = cat.create(graft.core.CollectionConfig(
      name = "mc", index_columns = Seq("title", "body")))
    c.importDf(Seq(
      ("apple pie", "a recipe for baking sweet desserts"),
      ("car engine", "torque and horsepower maintenance guide"),
      ("fruit salad", "apples bananas and citrus mixed")).toDF("title", "body"))
    val emb = new graft.embed.HashingEmbedder(dim = 64)
    for (col <- c.config.index_columns) assert(c.embedColumn(col, emb) == 3)
    assert(c.indexedCount("title") == 3 && c.indexedCount("body") == 3)
    // column-specific semantics: same query ranks different docs per column
    val byTitle = c.search("title", "apple pie", 1, emb).head().getLong(1)
    val byBody = c.search("body", "torque horsepower", 1, emb).head().getLong(1)
    assert(byTitle == 1L)
    assert(byBody == 2L)
  }
}

class PathResolutionSpec extends SparkSpec {
  test("hf:// paths map to the mirror root or fail fast offline") {
    assert(Ingest.resolvePath("/plain/local/path.parquet") == "/plain/local/path.parquet")
    assert(Ingest.resolvePath("s3a://bucket/key") == "s3a://bucket/key")
    // no GRAFT_HF_MIRROR in the test env -> clear offline error
    val e = intercept[IllegalArgumentException] {
      Ingest.resolvePath("hf://datasets/user/repo/file.parquet")
    }
    assert(e.getMessage.contains("GRAFT_HF_MIRROR"))
  }
}
