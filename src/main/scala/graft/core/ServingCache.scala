package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader}
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/** The driver's read cache for the serving path: decoded rows of the
  * immutable Parquet files the collection's tables are made of, shared by
  * every [[Collection]] instance in the JVM. It is a read cache over the
  * same tables, not a storage format.
  *
  * Entries are keyed by a file's identity ([[TableRoot.Leaf]]: qualified
  * path, length, modification time). Writers never change a file in place —
  * appends add files, swaps and rewrites replace them under new names — so
  * an entry can never go stale. A reader passes its table root's snapshot
  * ([[TableRoot.snapshot]]), which rolls a committed write forward before
  * it lists, and the cache asks only for the files the snapshot lists; a
  * committed write is therefore visible to the next read, and a replaced
  * file's entries simply stop being asked for until the LRU drops them.
  * There is no TTL.
  *
  * What it holds:
  *  - the vector index's `(key, vector)` segments, one per file,
  *    dequantized for f16/i8;
  *  - the flat ANN lists' segments, one per file, by `list_id`;
  *  - the data files' `(_key -> column)` row groups, chosen by their
  *    footer key ranges;
  *  - small tables (index params, ANN centroids/codebooks, keyword stats,
  *    classifier weights), whole;
  *  - every file's footer facts (Spark schema, row-group key ranges and
  *    sizes), which size a load before it happens.
  *
  * One byte-weighted LRU budget, a fixed share of the heap ([[fits]]),
  * covers all entries. A read whose estimated size does not fit, or that
  * meets a layout this reader does not decode (a nested content type, a
  * null vector element, a file below a sub-directory), answers None and
  * its caller takes the Spark read instead.
  */
private[graft] object ServingCache {

  /** Resident `(key, vector)` rows of one segment; vectors widened to f64
    * as the scoring expression reads them.
    */
  final class Vectors(val keys: Array[Long], val vecs: Array[Array[Double]])

  /** Share of the maximum heap the cache may hold. */
  val HeapShare = 8

  /** The fit/evict rule: a load of `bytes` (or a cache holding `bytes`)
    * fits under a heap of `maxHeap` bytes when it is within the share.
    */
  def fits(bytes: Long, maxHeap: Long): Boolean = bytes <= maxHeap / HeapShare

  /** Byte-weighted LRU map. A load runs once per key even under
    * concurrent misses (later callers wait for it); a value whose weight
    * alone does not fit is returned but not kept.
    */
  final class ByteLru(maxHeap: Long) {
    private final class Entry(val value: AnyRef, val bytes: Long)
    private val entries = new java.util.LinkedHashMap[Any, Entry](64, 0.75f, true)
    private val loading = new ConcurrentHashMap[Any, FutureTask[Entry]]()
    private var used = 0L
    private val loaded = new AtomicLong

    /** Number of loads run since start: a hit leaves it unchanged. */
    def loads: Long = loaded.get
    def bytes: Long = synchronized(used)
    def size: Int = synchronized(entries.size)
    def contains(key: Any): Boolean = synchronized(entries.containsKey(key))

    def apply[V <: AnyRef](key: Any)(load: => (V, Long)): V = {
      synchronized {
        val e = entries.get(key)
        if (e != null) return e.value.asInstanceOf[V]
      }
      val task = new FutureTask[Entry](() => {
        loaded.incrementAndGet()
        val (v, w) = load
        new Entry(v, w)
      })
      val running = Option(loading.putIfAbsent(key, task)).getOrElse { task.run(); task }
      try {
        val e = try running.get() catch { case x: ExecutionException => throw x.getCause }
        put(key, e)
        e.value.asInstanceOf[V]
      } finally loading.remove(key, task)
    }

    private def put(key: Any, e: Entry): Unit = synchronized {
      if (fits(e.bytes, maxHeap) && !entries.containsKey(key)) {
        entries.put(key, e)
        used += e.bytes
        val it = entries.values.iterator
        while (!fits(used, maxHeap) && it.hasNext) {
          used -= it.next().bytes
          it.remove()
        }
      }
    }
  }

  private[graft] val lru = new ByteLru(Runtime.getRuntime.maxMemory)

  /** A layout this reader does not decode; the caller reads through Spark. */
  private final class Unsupported(msg: String) extends Exception(msg, null, false, false)

  private def attempt[A](body: => A): Option[A] =
    try Some(body) catch { case _: Unsupported => None }

  // ---- files and footers ------------------------------------------------

  /** The files of `snap`'s sub-table `sub`. Unsupported unless it is a
    * flat Parquet table ([[TableRoot.Snapshot.flat]]).
    */
  private def fileIds(snap: TableRoot.Snapshot, sub: String): IndexedSeq[TableRoot.Leaf] = {
    if (!snap.flat(sub)) throw new Unsupported(s"not a flat Parquet table: ${snap.path(sub)}")
    snap.files(sub).toIndexedSeq
  }

  /** One row group's footer facts: row count, `[min, max]` of its
    * integral top-level columns, and per top-level column the leaf value
    * count and uncompressed bytes.
    */
  private final case class RowGroup(rows: Long, ranges: Map[String, (Long, Long)],
                                    sizes: Map[String, (Long, Long)]) {
    def covers(column: String, k: Long): Boolean =
      ranges.get(column).forall { case (lo, hi) => k >= lo && k <= hi }
    def values(column: String): Long = sizes.get(column).fold(0L)(_._1)
    def rawBytes(column: String): Long = sizes.get(column).fold(0L)(_._2)
  }

  private final case class Footer(schema: Option[StructType], groups: IndexedSeq[RowGroup])

  private def footer(conf: Configuration, f: TableRoot.Leaf): Footer = lru(("footer", f)) {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.path, conf))
    val ft = try reader.getFooter finally reader.close()
    val schema = Option(ft.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .map(DataType.fromJson).collect { case s: StructType => s }
    val groups = ft.getBlocks.asScala.toIndexedSeq.map { b =>
      val cols = b.getColumns.asScala.toSeq
      val ranges = cols.filter(_.getPath.size == 1).flatMap { c =>
        val st = c.getStatistics
        if (st == null || st.isEmpty || !st.hasNonNullValue) None
        else (st.genericGetMin, st.genericGetMax) match {
          case (lo: java.lang.Number, hi: java.lang.Number)
              if c.getPrimitiveType.getPrimitiveTypeName == INT64 ||
                c.getPrimitiveType.getPrimitiveTypeName == INT32 =>
            Some(c.getPath.toDotString -> ((lo.longValue, hi.longValue)))
          case _ => None
        }
      }.toMap
      val sizes = cols.groupMapReduce(_.getPath.toArray.head)(c =>
        (c.getValueCount, c.getTotalUncompressedSize)) { case (a, b) => (a._1 + b._1, a._2 + b._2) }
      RowGroup(b.getRowCount, ranges, sizes)
    }
    (Footer(schema, groups), 256L + 128L * groups.size)
  }

  // ---- column decoding ---------------------------------------------------

  /** `fields` of one row group (or, with `group = -1`, all of them) of a
    * Parquet file, column-major: `out(field)(row)`. A field the file lacks
    * reads as null, as in a Spark read with that schema. Decodes flat
    * long/int/double/float/boolean/string/binary columns and lists of
    * floats or doubles (as `Array[Float]` / `Array[Double]`).
    */
  private def decode(conf: Configuration, f: TableRoot.Leaf, fields: Seq[StructField],
                     group: Int = -1): Array[Array[AnyRef]] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.path, conf))
    try {
      val fileSchema = reader.getFooter.getFileMetaData.getSchema
      val present = fields.filter(fd => fileSchema.containsField(fd.name))
      val projection = new MessageType(fileSchema.getName,
        present.map(fd => fileSchema.getType(fileSchema.getFieldIndex(fd.name))).asJava)
      reader.setRequestedSchema(projection)
      val blocks = reader.getRowGroups.asScala.toIndexedSeq
      val which = if (group < 0) blocks.indices else Seq(group)
      val nRows = which.map(blocks(_).getRowCount).sum
      require(nRows <= Int.MaxValue, s"${f.path}: too many rows to decode")
      val out = fields.map(_ => new Array[AnyRef](nRows.toInt)).toArray
      val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
      var base = 0
      which.foreach { g =>
        val pages = reader.readRowGroup(g)
        val store = new ColumnReadStoreImpl(pages,
          new GroupRecordConverter(projection).getRootConverter, projection, createdBy)
        fields.zipWithIndex.filter(fi => present.contains(fi._1)).foreach { case (fd, i) =>
          decodeField(store, projection, fd, out(i), base)
        }
        base += blocks(g).getRowCount.toInt
      }
      out
    } finally reader.close()
  }

  private def decodeField(store: ColumnReadStoreImpl, schema: MessageType,
                          fd: StructField, out: Array[AnyRef], base: Int): Unit = {
    val leaves = schema.getColumns.asScala.filter(_.getPath.head == fd.name)
    if (leaves.size != 1) throw new Unsupported(s"nested column ${fd.name}")
    val cd = leaves.head
    val r = store.getColumnReader(cd)
    val maxDef = cd.getMaxDefinitionLevel
    val n = r.getTotalValueCount
    fd.dataType match {
      case ArrayType(et @ (FloatType | DoubleType), _) =>
        val leaf = if (et == FloatType) FLOAT else DOUBLE
        if (cd.getPath.length != 3 || cd.getMaxRepetitionLevel != 1 ||
            cd.getPrimitiveType.getPrimitiveTypeName != leaf)
          throw new Unsupported(s"list layout of ${fd.name}")
        // levels: the list is null below defList - 1, empty at defList - 1,
        // an element from defList on, a null element below maxDef
        val defList = schema.getMaxDefinitionLevel(cd.getPath.take(2): _*)
        val floats = et == FloatType
        var acc = new Array[Double](16)
        var len = 0
        var row = base - 1
        var isNull = true
        def flush(): Unit = if (row >= base) out(row) =
          if (isNull) null
          else if (floats) Array.tabulate(len)(i => acc(i).toFloat)
          else java.util.Arrays.copyOf(acc, len)
        var i = 0L
        while (i < n) {
          val d = r.getCurrentDefinitionLevel
          if (r.getCurrentRepetitionLevel == 0) {
            flush(); row += 1; len = 0; isNull = d < defList - 1
          }
          if (d == maxDef) {
            if (len == acc.length) acc = java.util.Arrays.copyOf(acc, len * 2)
            acc(len) = if (floats) r.getFloat.toDouble else r.getDouble
            len += 1
          } else if (d >= defList) throw new Unsupported(s"null element in ${fd.name}")
          r.consume(); i += 1
        }
        flush()
      case dt =>
        if (cd.getMaxRepetitionLevel != 0) throw new Unsupported(s"repeated ${fd.name}")
        val get = scalar(cd, dt, r)
        var i = 0
        while (i < n) {
          if (r.getCurrentDefinitionLevel == maxDef) out(base + i) = get()
          r.consume(); i += 1
        }
    }
  }

  private def scalar(cd: ColumnDescriptor, dt: DataType, r: ColumnReader): () => AnyRef = {
    val p: PrimitiveType = cd.getPrimitiveType
    val plain = p.getLogicalTypeAnnotation == null
    (dt, p.getPrimitiveTypeName) match {
      case (LongType, INT64) if plain => () => java.lang.Long.valueOf(r.getLong)
      case (LongType, INT32) if plain => () => java.lang.Long.valueOf(r.getInteger.toLong)
      case (IntegerType, INT32) if plain => () => java.lang.Integer.valueOf(r.getInteger)
      case (DoubleType, DOUBLE) => () => java.lang.Double.valueOf(r.getDouble)
      case (FloatType, FLOAT) => () => java.lang.Float.valueOf(r.getFloat)
      case (BooleanType, BOOLEAN) => () => java.lang.Boolean.valueOf(r.getBoolean)
      case (StringType, BINARY) => () => r.getBinary.toStringUsingUTF8
      case (BinaryType, BINARY) => () => r.getBinary.getBytes
      case _ => throw new Unsupported(s"$dt stored as $p")
    }
  }

  // ---- tables ------------------------------------------------------------

  private def vectorBytes(rows: Long, dims: Long): Long = 64L * rows + 8L * dims

  /** Decoded size of `column`'s vectors in a row group: f32 lists count
    * their leaf values, quantized payloads their bytes per dimension.
    */
  private def vectorEstimate(g: RowGroup, column: String, bytesPerDim: Int): Long =
    vectorBytes(g.rows,
      if (bytesPerDim == 0) g.values(column) else g.rawBytes(column) / bytesPerDim)

  private def toVectors(keys: Array[AnyRef], vecs: Array[Array[Double]]): Vectors = {
    val keep = keys.indices.filter(i => keys(i) != null && vecs(i) != null).toArray
    new Vectors(keep.map(keys(_).asInstanceOf[java.lang.Long].longValue), keep.map(vecs))
  }

  private def weight(v: Vectors): Long =
    vectorBytes(v.keys.length, v.vecs.iterator.map(_.length.toLong).sum)

  private def valueBytes(v: Any): Long = v match {
    case s: String => 40L + 2L * s.length
    case b: Array[Byte] => 24L + b.length
    case a: Array[Float] => 24L + 4L * a.length
    case a: Array[Double] => 24L + 8L * a.length
    case _ => 16L
  }

  private def widen(a: AnyRef): Array[Double] = a match {
    case null => null
    case f: Array[Float] => f.map(_.toDouble)
    case d: Array[Double] => d
  }

  /** The vector index of snapshot `snap` as resident segments, one per
    * file. None when its estimated decoded size does not fit the budget
    * or its layout is not decoded here.
    */
  def vectors(conf: Configuration, snap: TableRoot.Snapshot,
              layout: VectorLayout): Option[Seq[Vectors]] = attempt {
    val files = fileIds(snap, "")
    val estimate = files.map(f => footer(conf, f).groups
      .map(vectorEstimate(_, layout.field.name, layout.bytesPerDim)).sum).sum
    if (!fits(estimate, Runtime.getRuntime.maxMemory)) throw new Unsupported("over budget")
    files.map(f => lru(("vectors", f, layout.variant)) {
      val Array(keys, raw) = decode(conf, f, Seq(layout.schema(Keys.KeyCol), layout.field))
      val vecs = raw.map(v =>
        if (!layout.quantized) widen(v)
        else if (v == null) null
        else layout.decode(v.asInstanceOf[Array[Byte]]).map(_.toDouble))
      val v = toVectors(keys, vecs)
      (v, weight(v))
    })
  }

  /** The flat ANN lists of ANN index snapshot `snap`: the resident
    * segments of the `probes` lists, read only from the files whose
    * footer `list_id` range meets a probe. None as for [[vectors]].
    */
  def annLists(conf: Configuration, snap: TableRoot.Snapshot,
               probes: Set[Int]): Option[Seq[Vectors]] = attempt {
    val files = fileIds(snap, "lists")
    val footers = files.map(footer(conf, _))
    val estimate = footers.map(_.groups.map(vectorEstimate(_, "embedding", 0)).sum).sum
    if (!fits(estimate, Runtime.getRuntime.maxMemory)) throw new Unsupported("over budget")
    files.zip(footers)
      .filter { case (_, ft) => ft.groups.exists(g => probes.exists(p => g.covers("list_id", p))) }
      .flatMap { case (f, _) =>
        val byList = lru(("ann", f)) {
          val Array(keys, vecs, lists) = decode(conf, f,
            IndexFamily.AnnIndex.schema("lists", Seq(Keys.KeyCol, "embedding", "list_id")).fields)
          val segs = lists.indices.groupBy(lists(_)).collect {
            case (l: java.lang.Integer, rows) =>
              l.intValue -> toVectors(rows.map(keys).toArray, rows.map(i => widen(vecs(i))).toArray)
          }
          (segs, segs.valuesIterator.map(weight).sum + 64L)
        }
        probes.toSeq.sorted.flatMap(byList.get)
      }
  }

  /** `column` of the data files of data root snapshot `snap` for `keys`:
    * the column's stored type and each key's values. Only the row groups
    * whose footer `_key` range holds a key are read. None when the files
    * disagree on the column's type, none has it, the type is not decoded
    * here, or the row groups to read do not fit the budget.
    */
  def content(conf: Configuration, snap: TableRoot.Snapshot, column: String,
              keys: Seq[Long]): Option[(DataType, Map[Long, Seq[Any]])] = attempt {
    val files = fileIds(snap, "")
    val footers = files.map(footer(conf, _))
    val types = footers.flatMap(_.schema.map(_.find(_.name == column).map(_.dataType)))
    if (types.size != files.size) throw new Unsupported("a data file without a Spark schema")
    val dt = types.flatten.distinct match {
      case Seq(t) => t
      case _ => throw new Unsupported(s"no single stored type for $column")
    }
    val groups = for {
      (f, ft) <- files.zip(footers)
      (g, i) <- ft.groups.zipWithIndex
      if g.rows > 0 && keys.exists(g.covers(Keys.KeyCol, _))
    } yield (f, g, i)
    val estimate = groups.map { case (_, g, _) => 64L * g.rows + 2L * g.rawBytes(column) }.sum
    if (!fits(estimate, Runtime.getRuntime.maxMemory)) throw new Unsupported("over budget")
    val wanted = keys.toSet
    val found = groups.flatMap { case (f, _, i) =>
      val byKey = lru(("content", f, column, i)) {
        val Array(ks, vs) = decode(conf, f,
          Seq(StructField(Keys.KeyCol, LongType), StructField(column, dt)), i)
        val m = ks.indices.filter(ks(_) != null)
          .groupMap(ks(_).asInstanceOf[java.lang.Long].longValue)(vs(_): Any)
        (m, 64L * ks.length + vs.iterator.map(valueBytes).sum)
      }
      wanted.iterator.flatMap(k => byKey.get(k).map(k -> _))
    }
    (dt, found.groupMapReduce(_._1)(_._2)(_ ++ _))
  }

  /** Every row of the small sub-table `sub` of snapshot `snap` in the
    * declared `schema` (columns a file lacks read as null; lists as
    * `Seq`), cached whole per file set. None when its layout is not
    * decoded here.
    */
  def table(conf: Configuration, snap: TableRoot.Snapshot, sub: String,
            schema: StructType): Option[Seq[Row]] = attempt {
    val files = fileIds(snap, sub)
    // an empty table has no row to answer with; the Spark read reports it
    if (files.isEmpty) throw new Unsupported(s"no files under ${snap.path(sub)}")
    lru(("table", files, schema)) {
      val cols = files.map(decode(conf, _, schema.fields.toSeq))
      val rows = cols.flatMap(c => c.head.indices.map(i =>
        new GenericRowWithSchema(c.map(_(i) match {
          case a: Array[Double] => ArraySeq.unsafeWrapArray(a)
          case a: Array[Float] => ArraySeq.unsafeWrapArray(a)
          case v => v
        }).toArray[Any], schema): Row))
      (rows, 256L + cols.iterator.flatMap(_.iterator.flatten).map(valueBytes).sum)
    }
  }
}
