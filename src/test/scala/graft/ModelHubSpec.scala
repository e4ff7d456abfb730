package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.embed.ModelHub

/** Offline list-models over a synthetic GRAFT_HF_MIRROR layout. */
class ModelHubSpec extends AnyFunSuite with TempDirs {

  test("lists letsearch-compatible repos with variants, skips others") {
    val root = java.nio.file.Paths.get(tempDir("graft_hub"))
    def write(repo: String, json: String): Unit = {
      val dir = root.resolve(repo)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("config.json"), json.getBytes("UTF-8"))
    }
    write("mys/minilm",
      """{"letsearch_version": 1,
        | "variants": [{"variant": "f32", "path": "model.onnx"},
        |              {"variant": "i8", "path": "model_i8.onnx"}]}""".stripMargin)
    write("other/bert", """{"architectures": ["BertModel"]}""") // not letsearch
    write("mys/broken", "{not json")                            // unparseable
    val models = ModelHub.listModels(Some(root.toString))
    assert(models == Seq(ModelHub.HubModel("hf://mys/minilm", Seq("f32", "i8"))))
  }

  test("missing mirror yields the empty list, not an error") {
    assert(ModelHub.listModels(None).isEmpty)
    assert(ModelHub.listModels(Some("/nonexistent/path")).isEmpty)
  }
}
