package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import scala.jdk.CollectionConverters._

/** Per-file key-range of a parquet data file, read from footer metadata. */
final case class FileKeyRange(path: Path, min: Long, max: Long) {
  def intersects(k: Long): Boolean = k >= min && k <= max
}

/** Footer-only per-file statistics — the metadata half of partition-scoped
  * copy-on-write ([[Collection.upsert]] / [[Collection.reembedChanged]]).
  *
  * Parquet writers record per-row-group min/max for every column; folding
  * those over a file's row groups gives the file's key interval WITHOUT
  * reading any data pages. At 100 TB that is the difference between
  * "scan the key column of the whole corpus to find which files a 1,000-row
  * correction batch touches" (TBs of I/O) and "read a few KB of footer per
  * file" — O(files), driver-side, just like any table format's manifest.
  *
  * Files whose footer lacks usable statistics for the key column are
  * reported with the full `[Long.MinValue, Long.MaxValue]` interval —
  * conservatively "touched by everything", never silently skipped (skipping
  * would drop their rows from a rewrite that should have included them).
  * Empty files (zero row groups) are omitted: they contain no rows, so no
  * key can intersect them.
  */
object ParquetStats {

  /** Footer-derived `[min, max]` of long column `keyCol` for each of the
    * Parquet `files` (a table root snapshot's, [[TableRoot.Snapshot]]).
    */
  def fileKeyRanges(files: Seq[Path], keyCol: String, conf: Configuration): Seq[FileKeyRange] =
    files.flatMap(fileKeyRange(_, keyCol, conf))

  private def fileKeyRange(file: Path, keyCol: String, conf: Configuration): Option[FileKeyRange] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      if (blocks.isEmpty || blocks.forall(_.getRowCount == 0L)) return None
      var lo = Long.MaxValue
      var hi = Long.MinValue
      var usable = true
      blocks.filter(_.getRowCount > 0L).foreach { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == keyCol) match {
          case Some(c) =>
            val st = c.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) usable = false
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                lo = math.min(lo, mn.longValue)
                hi = math.max(hi, mx.longValue)
              case (mn: java.lang.Integer, mx: java.lang.Integer) =>
                // int columns (e.g. an IVF list_id) plan the same way —
                // widened to long, the interval semantics are identical
                lo = math.min(lo, mn.longValue)
                hi = math.max(hi, mx.longValue)
              case _ => usable = false // key column not integral in this file
            }
          case None => usable = false // file predates the key column
        }
      }
      if (usable) Some(FileKeyRange(file, lo, hi))
      else Some(FileKeyRange(file, Long.MinValue, Long.MaxValue))
    } finally reader.close()
  }

  /** Exact row count of the Parquet `files`, summed from footer block
    * metadata — NO data pages read. Parquet
    * footers record the authoritative per-row-group row count, so this
    * equals a full `COUNT(*)` scan on any committed file set; at 100 TB
    * it is O(files) KB-sized footer reads instead of a corpus pass (the
    * same manifest discipline as [[fileKeyRanges]]). Returns `None` when
    * any footer is unreadable (caller falls back to the scan).
    */
  def totalRows(files: Seq[Path], conf: Configuration): Option[Long] = {
    var total = 0L
    files.foreach { f =>
      try {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try total += reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      } catch { case _: Exception => return None }
    }
    Some(total)
  }
}
