package graft.embed

/** Batch text-embedding contract (E1, reference `Embedder` trait,
  * src/model/model_utils.rs:25-31: `output_dim`, `output_dtype`,
  * `embed(Vec<String>) -> Embeddings`).
  *
  * Spark-native shape: iterator-in/iterator-out so it drops straight into
  * `Dataset.mapPartitions` — one embedder instance per task, no driver-side
  * batching loop. Implementations must be `Serializable` (shipped to
  * executors) and deterministic (the correctness oracle depends on it).
  *
  * `embed` and `embedOne` may be called concurrently on one instance:
  * [[graft.serve.HttpApi]] embeds each request's query on its own worker
  * thread, with the one instance the [[ModelRegistry]] holds. An
  * implementation therefore keeps no unsynchronized mutable state
  * ([[HashingEmbedder]] allocates its digest per call).
  */
trait Embedder extends Serializable {
  /** Embedding dimensionality (reference: `output_dim`). */
  def dim: Int

  /** Declared output dtype — metadata only; Spark computes f32
    * (reference `ModelOutputDType`, model_utils.rs:12-18; f16/i8 are
    * storage variants there, and i8 is `unimplemented!` even in the
    * reference, encoder_onnx.rs:330-332).
    */
  def dtype: String = "f32"

  /** Embed a batch. Must return exactly one unit-or-zero-norm vector of
    * length `dim` per input, in order.
    */
  def embed(texts: Iterator[String]): Iterator[Array[Float]]

  def embedOne(text: String): Array[Float] = embed(Iterator(text)).next()
}

/** Deterministic offline embedder: seeded feature hashing over whitespace
  * tokens + character trigrams, L2-normalized.
  *
  * Stands in for the reference's ONNX/Gemini encoders
  * (encoder_onnx.rs:56-338, gemini_embedder.rs:78-141) in the zero-egress
  * build: same contract (batch in, fixed-dim unit vectors out), fully
  * reproducible across JVMs and runs, so search results are stable and
  * testable. Trigram features make near-identical texts map to nearby
  * vectors, which the near-dup operators exploit.
  *
  * The feature hash is md5-derived (like `Dedup.simhash64`): bucket =
  * first 4 md5 bytes of `"<seed>|<feature>"` mod `dim`, sign = high bit
  * of the 5th byte's top nibble. md5 is bit-identical in DuckDB, and the
  * ±1 / ±0.5 weights are dyadic rationals whose f32 sums are EXACT (so
  * accumulation order cannot matter) — together that makes the whole
  * embed → normalize → cosine pipeline replicable in oracle SQL.
  */
final class HashingEmbedder(val dim: Int = 384, seed: Int = 42) extends Embedder {
  require(dim > 0)

  override def embed(texts: Iterator[String]): Iterator[Array[Float]] =
    texts.map(embedText)

  private def accumulate(v: Array[Float], md: java.security.MessageDigest,
                         feature: String, weight: Float): Unit = {
    md.reset()
    val d = md.digest((seed.toString + "|" + feature).getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 4) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    val idx = (h % dim).toInt
    val sign = if (((d(4) >> 4) & 0xF) < 8) 1f else -1f
    v(idx) += sign * weight
  }

  private def embedText(text: String): Array[Float] = {
    val v = new Array[Float](dim)
    val md = java.security.MessageDigest.getInstance("MD5")
    val tokens = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    tokens.foreach { tok =>
      accumulate(v, md, tok, 1.0f)
      if (tok.length >= 3) {
        var i = 0
        while (i + 3 <= tok.length) {
          accumulate(v, md, "#" + tok.substring(i, i + 3), 0.5f)
          i += 1
        }
      }
    }
    var norm = 0.0
    var i = 0
    while (i < dim) { norm += v(i).toDouble * v(i); i += 1 }
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      i = 0
      while (i < dim) { v(i) = (v(i) * inv).toFloat; i += 1 }
    }
    v
  }
}

/** Pluggable embedder backend factory — the drop-in seam for a REAL
  * encoder (the reference's ONNX / Gemini backends,
  * encoder_onnx.rs:56-338, gemini_embedder.rs:78-141, are excluded here
  * only by the zero-egress build). A provider jar on the classpath
  * implements this trait with a no-arg constructor; the registry loads
  * it by class name via [[EmbedderProvider.load]] — no compile-time
  * dependency from graft on the backend, so shipping a real ONNX
  * provider later requires zero changes to this library.
  *
  * Contract: `create` must return a deterministic, `Serializable`
  * [[Embedder]] (it is shipped to executors); the provider itself runs
  * driver-side only.
  */
trait EmbedderProvider {
  def create(modelId: String, variant: String): Embedder
}

object EmbedderProvider {

  /** Reflection-load a provider by class name and build an embedder
    * through it. Fails loudly (class missing, wrong type, no no-arg
    * constructor, or a non-positive dim) rather than falling back —
    * a user who configured a backend must not silently get the hashing
    * stand-in.
    */
  def load(className: String, modelId: String,
           variant: String = "f32"): Embedder = {
    val cls =
      try Class.forName(className)
      catch { case _: ClassNotFoundException =>
        throw new IllegalArgumentException(
          s"embedder provider class '$className' not on the classpath")
      }
    require(classOf[EmbedderProvider].isAssignableFrom(cls),
      s"'$className' does not implement graft.embed.EmbedderProvider")
    val provider =
      try cls.getDeclaredConstructor().newInstance()
        .asInstanceOf[EmbedderProvider]
      catch {
        case _: NoSuchMethodException =>
          throw new IllegalArgumentException(
            s"provider '$className' needs a public no-arg constructor")
        case e: java.lang.reflect.InvocationTargetException =>
          // unwrap: the user's constructor threw — name the provider,
          // keep the real cause
          throw new IllegalArgumentException(
            s"provider '$className' constructor threw: " +
              s"${Option(e.getCause).getOrElse(e)}", Option(e.getCause).getOrElse(e))
        case e: ReflectiveOperationException =>
          // abstract class, non-public constructor, …
          throw new IllegalArgumentException(
            s"provider '$className' is not instantiable " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage})", e)
      }
    val e = provider.create(modelId, variant)
    require(e != null && e.dim > 0,
      s"provider '$className' returned an invalid embedder for " +
        s"'$modelId' ($variant)")
    e
  }

  /** The configured provider class, if any: the `GRAFT_EMBEDDER_PROVIDER`
    * environment variable (or the `graft.embedder.provider` system
    * property, which wins — the test/tooling override idiom).
    */
  def configured: Option[String] =
    sys.props.get("graft.embedder.provider")
      .orElse(sys.env.get("GRAFT_EMBEDDER_PROVIDER"))
}

/** Model registry (E5): `(name, variant) -> Embedder`, replacing the
  * reference's `ModelManagerActor` id table (model_actor.rs:33-130). The
  * registry lives on the driver; individual embedders are serialized into
  * tasks on use.
  */
final class ModelRegistry {
  private val models = scala.collection.concurrent.TrieMap.empty[(String, String), Embedder]

  /** Register (idempotent) and return the embedder for a model spec. The
    * default model mirrors the reference default `hf://mys/minilm` f32 at
    * MiniLM's 384 dims (collection_utils.rs:39-41). When an
    * [[EmbedderProvider]] is configured, it takes precedence over the
    * built-in hashing stand-in — a real backend drops in by classpath +
    * one env var, exactly the reference's pluggable-encoder contract.
    */
  def load(name: String, variant: String = "f32"): Embedder =
    models.getOrElseUpdate((name, variant),
      EmbedderProvider.configured
        .map(cls => EmbedderProvider.load(cls, name, variant))
        .getOrElse(defaultFor(name, variant)))

  def register(name: String, variant: String, e: Embedder): Unit =
    models.put((name, variant), e)

  def get(name: String, variant: String = "f32"): Option[Embedder] =
    models.get((name, variant))

  private def defaultFor(name: String, variant: String): Embedder = {
    // Dimension by model family: minilm-class 384, gemini-class 3072
    // (gemini_embedder.rs:9-11); otherwise a compact default.
    val dim =
      if (name.contains("minilm")) 384
      else if (name.startsWith("gemini://")) 3072
      else 64
    new HashingEmbedder(dim, seed = 42)
  }
}
