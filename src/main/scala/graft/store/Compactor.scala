package graft.store

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet tables (the OPTIMIZE analogue the
  * reference's Delta tables get for free, py_pipeline/load.py:83).
  * Streaming append sinks and frequent small upserts accumulate tiny
  * files; at 100 TB the FILE COUNT becomes its own bottleneck — driver
  * listing, footer reads, task scheduling — before data volume does.
  *
  * One scan, `ceil(bytes / targetFileBytes)` output files via
  * `repartition`, then the same write-audit-publish swap the upsert path
  * uses (readers never see a half-compacted table; `__old` retains the
  * previous version until the swap completes).
  */
object Compactor {

  /** Compact `path` toward `targetFileBytes` per file. Returns the number
    * of output partitions written. No-op (returns 0) if the table doesn't
    * exist.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val target = Paths.get(path)
    if (!UpsertWriter.recover(target)) return 0
    val bytes = dirBytes(target)
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path).repartition(n)
    UpsertWriter.writeAtomic(df, target)
    n
  }

  /** Current data-file count — the health metric compaction drives down. */
  def dataFileCount(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
