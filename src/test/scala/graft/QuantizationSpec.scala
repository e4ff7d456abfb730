package graft

import graft.core.{Catalog, CollectionConfig}
import graft.embed.{HashingEmbedder, Quantization}

class QuantizationSpec extends SparkSpec {
  import spark.implicits._

  private def randomVectors(n: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      Array.fill(1 + rnd.nextInt(64))((rnd.nextFloat() - 0.5f) * 20f)
    }
  }

  test("property: f16 round-trip error within half-precision ulp (500 vectors)") {
    randomVectors(500).foreach { v =>
      val back = Quantization.decodeF16(Quantization.encodeF16(v))
      assert(back.length == v.length)
      v.zip(back).foreach { case (a, b) =>
        // binary16 has 11 significand bits -> rel err <= 2^-11 (plus a
        // subnormal absolute floor)
        assert(math.abs(a - b) <= math.max(math.abs(a) * 0.0005, 1e-4f), s"$a -> $b")
      }
    }
  }

  test("property: i8 round-trip error within scale/2 (500 vectors)") {
    randomVectors(500).foreach { v =>
      val back = Quantization.decodeI8(Quantization.encodeI8(v))
      val maxAbs = v.map(math.abs).max
      val tol = (if (maxAbs == 0) 1f else maxAbs / 127f) * 0.5001f
      v.zip(back).foreach { case (a, b) => assert(math.abs(a - b) <= tol, s"$a -> $b") }
    }
  }

  test("f16 special values") {
    for (f <- Seq(0f, -0f, 1f, -1f, 0.5f, 65504f, Float.PositiveInfinity)) {
      val b = Quantization.halfBitsToFloat(Quantization.floatToHalfBits(f))
      assert(b == f, s"$f -> $b")
    }
    assert(Quantization.halfBitsToFloat(
      Quantization.floatToHalfBits(Float.NaN)).isNaN)
    // overflow saturates to inf
    assert(Quantization.halfBitsToFloat(
      Quantization.floatToHalfBits(1e6f)).isInfinite)
  }

  test("i8/f16 variant collections: quantized storage, transparent reads") {
    for (variant <- Seq("i8", "f16")) {
      val root = tempDir(s"graft_q_$variant")
      val cat = new Catalog(spark, root)
      val c = cat.create(CollectionConfig(name = "q", model_variant = variant))
      c.importDf(Seq("apple banana fruit", "car truck road", "apple pie baking")
        .toDF("text"))
      val emb = new HashingEmbedder(dim = 64)
      assert(c.embedColumn("text", emb) == 3)
      // stored quantized...
      val raw = spark.read.parquet(c.indexDir("text"))
      assert(raw.schema.fieldNames.contains("qembedding"), variant)
      // ...read back as float arrays, search still ranks the right doc first
      val hits = c.search("text", "apple fruit", 2, emb).collect()
      assert(hits.head.getString(0).contains("apple"), variant)
      assert(hits.head.getDouble(2) > 0.5, variant)
      // upsert -> reembedChanged works on the quantized layout too: the
      // fingerprint rides next to qembedding, and the rewrite re-encodes
      import org.apache.spark.sql.functions._
      c.upsert(c.df.filter(col("_key") === 2)
        .select(lit("ocean coral reef").as("text"), col("_key")))
      assert(c.reembedChanged("text", emb) == 1, variant)
      assert(c.indexedCount("text") == 3, variant)
      val fixed = c.search("text", "ocean coral reef", 1, emb).head()
      assert(fixed.getLong(1) == 2L && fixed.getDouble(2) > 0.9, variant)
    }
  }
}
