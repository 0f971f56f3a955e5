package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout for scan pruning: Z-ORDER the rows of a
  * table across two numeric dimensions before writing, so parquet
  * row-group/file min-max statistics become selective on BOTH columns at
  * once. A table sorted on one key prunes scans filtered on that key
  * only; interleaving the bits of two keys (the Z-curve) keeps rows close
  * in BOTH dimensions within each file, so a filter on either — or both —
  * skips most files by footer stats alone. At 100 TB this is the
  * difference between a point-ish query reading a few files and reading
  * the table; like bucketing it is a write-once layout decision, paid as
  * one range-shuffle at write time.
  *
  * The z-value interleaves the low `bits` of each dimension after min-max
  * normalization to [0, 2^bits): coarse on purpose — the curve only
  * steers LAYOUT, never query results, so quantization costs nothing in
  * correctness (LayoutSpec asserts round-trip equality and measures the
  * clustering win directly on the written files' per-file ranges). The
  * normalization ranges come from one tiny min/max aggregate; the
  * interleave itself is a row-local codegen'd fold — no UDF, no second
  * pass over the data beyond the range shuffle the layout requires.
  */
object Layout {

  /** acc + x_bit<<2i + y_bit<<(2i+1) folded over the bit positions —
    * the Z-curve interleave of the bound `__zx`/`__zy` columns; exposed
    * for LayoutSpec's bit-level lock against a reference interleave. */
  private[sources] def interleaveExpr(bits: Int): Column = expr(
    s"""aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) ->
       |  acc + shiftleft(shiftright(__zx, i) % 2, 2*i)
       |      + shiftleft(shiftright(__zy, i) % 2, 2*i + 1))""".stripMargin)

  /** Write `df` z-ordered on (`c1`, `c2`) into `numFiles` range-split
    * parquet files at `path`. */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                    numFiles: Int = 8, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(c1).cast("double")), max(col(c1).cast("double")),
      min(col(c2).cast("double")), max(col(c2).cast("double"))).head()
    if (r.isNullAt(0)) { // empty input: nothing to lay out, write it as-is
      df.write.mode("overwrite").parquet(path)
      return
    }
    def normExpr(c: String, lo: Double, hi: Double): Column = {
      val scale = if (hi > lo) ((1L << bits) - 1).toDouble / (hi - lo) else 0.0
      least(lit((1L << bits) - 1), greatest(lit(0L),
        ((col(c).cast("double") - lit(lo)) * lit(scale)).cast("long")))
    }
    df
      .withColumn("__zx", normExpr(c1, r.getDouble(0), r.getDouble(1)))
      .withColumn("__zy", normExpr(c2, r.getDouble(2), r.getDouble(3)))
      .withColumn("__z", interleaveExpr(bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__zx", "__zy", "__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Compact a parquet directory's small files into ~`targetFileBytes`
    * outputs — the operational companion of every streaming/hourly sink:
    * micro-batch and per-hour writers accumulate files far below the
    * scan-efficient size, and at 100 TB the scan's task-scheduling and
    * footer overhead is dominated by FILE COUNT, not bytes. File count is
    * computed from the on-disk size (no data pass); the rewrite is one
    * round-robin repartition. The swap renames the ORIGINAL aside first,
    * then the rewrite in, then deletes the aside — at no instant is the
    * path absent with the data only in a temp dir, and a failed second
    * rename restores the original. Single renames are atomic on a
    * filesystem, NOT on an object store — production object stores get
    * atomicity from a table format's metadata commit; this is the rewrite
    * primitive underneath. FLAT directories only: a partitionBy layout
    * (data files nested under key= dirs) must be compacted per partition,
    * and is rejected loudly rather than silently flattened to one file.
    * Returns the output file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L << 20): Int = {
    val dir = new java.io.File(path)
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
    // ANY nested directory disqualifies the layout — a dir mixing
    // top-level data files with key= partition dirs would otherwise pass a
    // bytes>0 check and get silently flattened, losing the partitioning
    if (entries.exists(_.isDirectory))
      throw new IllegalArgumentException(
        s"compact: $path contains nested directories (partitioned or mixed " +
          "layout) — compact each partition directory instead")
    val dataFiles = entries.filter(f => f.isFile && f.getName.endsWith(".parquet"))
    if (dataFiles.isEmpty) return 0 // nothing to compact (and nothing to infer a schema from)
    val bytes = dataFiles.map(_.length()).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val tmp = new java.io.File(path + ".compact-tmp")
    val aside = new java.io.File(path + ".compact-old")
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(tmp.getPath)
    if (!dir.renameTo(aside))
      throw new IllegalStateException(s"compact: rename $path aside failed")
    if (!tmp.renameTo(dir)) {
      aside.renameTo(dir) // restore the original before failing
      throw new IllegalStateException(s"compact: rename $tmp -> $path failed")
    }
    org.apache.commons.io.FileUtils.deleteDirectory(aside)
    n
  }
}
