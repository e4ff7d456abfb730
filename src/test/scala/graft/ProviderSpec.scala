package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, CollectionConfig}
import graft.embed.{Embedder, EmbedderProvider, HashingEmbedder, ModelRegistry}

/** A stand-in for a real ONNX/Gemini backend jar: implements the
  * provider trait with a no-arg constructor and returns a deterministic
  * embedder whose dim encodes the (modelId, variant) it was asked for —
  * so the spec can prove the request actually flowed THROUGH the
  * provider, not around it.
  */
class FakeOnnxProvider extends EmbedderProvider {
  override def create(modelId: String, variant: String): Embedder = {
    FakeOnnxProvider.requests.add(s"$modelId|$variant")
    new HashingEmbedder(dim = if (modelId.contains("large")) 96 else 48)
  }
}

object FakeOnnxProvider {
  val requests = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** The only thing standing between this library and a REAL encoder is
  * the zero-egress build: these cases prove a backend is a drop-in —
  * classpath + class name, no graft changes — and that misconfiguration
  * fails loudly instead of silently degrading to the hashing stand-in.
  */
class ProviderSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    tempDir("graft_provider")

  test("reflection load: provider class builds the embedder; bad config fails loudly") {
    val e = EmbedderProvider.load("graft.FakeOnnxProvider", "onnx://x-large")
    assert(e.dim == 96)
    assert(FakeOnnxProvider.requests.contains("onnx://x-large|f32"))
    // missing class, non-provider class: loud, never a silent fallback
    val miss = intercept[IllegalArgumentException] {
      EmbedderProvider.load("graft.NoSuchProvider", "m")
    }
    assert(miss.getMessage.contains("not on the classpath"), miss.getMessage)
    val wrong = intercept[IllegalArgumentException] {
      EmbedderProvider.load("graft.embed.HashingEmbedder", "m")
    }
    assert(wrong.getMessage.contains("does not implement"), wrong.getMessage)
  }

  test("registry routes through the configured provider; embedColumn round-trips") {
    System.setProperty("graft.embedder.provider", "graft.FakeOnnxProvider")
    try {
      val registry = new ModelRegistry
      val emb = registry.load("onnx://test-model")
      assert(emb.dim == 48, "registry must route through the provider")
      assert(FakeOnnxProvider.requests.contains("onnx://test-model|f32"))
      // the provider-built embedder drives the real lifecycle: embed,
      // watermark catch-up, search — the whole E4/K4 surface
      val cat = new Catalog(spark, tmpRoot())
      val c = cat.create(CollectionConfig(name = "prov1"))
      c.importDf(Seq("apple banana fruit", "car truck vehicle",
        "apple pie dessert").toDF("text"))
      assert(c.embedColumn("text", emb) == 3)
      assert(c.embedColumn("text", emb) == 0)
      val hits = c.search("text", "apple fruit", 2, emb).collect()
      assert(hits.length == 2 && hits.head.getString(0).contains("apple"))
      // stored vectors carry the provider's dim
      val dim = c.embeddings("text").select(size(col("embedding")))
        .head().getInt(0)
      assert(dim == 48)
    } finally System.clearProperty("graft.embedder.provider")
    // unconfigured: the built-in stand-in serves (registry defaults)
    val plain = new ModelRegistry
    assert(plain.load("hf://mys/minilm").dim == 384)
  }
}
