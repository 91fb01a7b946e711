package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Table-layout maintenance: small-file compaction (the OPTIMIZE primitive).
  *
  * Streaming sinks and incremental batch writers accumulate many small
  * files; at 100 TB the resulting scan-task explosion (one task per file,
  * footer reads, NameNode pressure) dominates query latency. `compact`
  * rewrites a parquet directory into ~targetBytes-sized files:
  *
  *   1. read the directory (schema preserved),
  *   2. re-lay to ceil(totalBytes / targetBytes) partitions — coalesce
  *      (narrow, no shuffle) when merging, round-robin repartition only
  *      when splitting oversized files,
  *   3. write to a staging dir, then swap via rename-aside: live →
  *      `<dir>.old`, staging → live, drop aside. A crash at any point leaves either the
  *      old or the new complete directory, never a mix; a crash BETWEEN the
  *      renames leaves only the aside copy, which the next compact() call
  *      restores before doing anything else.
  *
  * Row-order within files may change (compaction is a layout operation);
  * the SET of rows is preserved, which the spec asserts by sorted-collect
  * equality.
  */
object Layout {

  /** @return (files before, files after) counting data files only. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    val aside0 = new Path(dir + ".old")

    // heal a swap that died between the two renames: the live dir is gone
    // and the aside copy is the surviving authority — restore it, so both
    // readers and a compaction retry see the complete pre-crash table
    if (!fs.exists(path) && fs.exists(aside0)) {
      if (!fs.rename(aside0, path))
        sys.error(s"compact: crash recovery rename $aside0 -> $path failed")
    }

    def dataFiles(p: Path) = {
      val all = fs.listStatus(p).toSeq
      require(!all.exists(_.isDirectory),
        s"compact: $p contains subdirectories — compact partitioned tables " +
          "one leaf partition at a time (a flat rewrite would collapse the " +
          "partition layout and duplicate rows against partition-wise writers)")
      all.filter(st => !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
    }

    val before = dataFiles(path)
    // a valid-but-empty table (e.g. a sink that has committed no batch yet)
    // has nothing to re-lay; spark.read.parquet on it would fail schema
    // inference with an unhelpful error, so short-circuit instead
    if (before.isEmpty) return (0, 0)
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

    val staging = new Path(dir + ".compact_staging")
    val aside = new Path(dir + ".old")
    fs.delete(staging, true)
    val df = spark.read.parquet(dir)
    val cur = df.rdd.getNumPartitions
    // merging (the common direction): coalesce — narrow, no shuffle, output
    // files concatenate whole input partitions. Splitting oversized files:
    // coalesce cannot raise the partition count, so fall back to a
    // round-robin repartition (one shuffle of the data being rewritten —
    // bounded by the compaction batch, not the table).
    val relaid =
      if (nOut < cur) df.coalesce(nOut)
      else if (nOut > cur) df.repartition(nOut)
      else df
    relaid.write.mode("overwrite").parquet(staging.toString)

    fs.delete(aside, true)
    if (!fs.rename(path, aside))
      sys.error(s"compact: could not move $path aside")
    if (!fs.rename(staging, path)) {
      // roll back: the original directory is still intact under aside
      fs.rename(aside, path)
      sys.error(s"compact: could not move staging into place for $path")
    }
    fs.delete(aside, true)
    (before.size, dataFiles(path).size)
  }
}
