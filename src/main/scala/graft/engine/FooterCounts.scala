package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Metadata-only per-partition row counts for the bulk-INSERT dense
  * auto-id fill.
  *
  * The canonical bulk `INSERT … SELECT` batch (auto column statically
  * all-null, no other constraints, deterministic narrow plan) needs
  * exactly one fact before its single write job: how many rows each
  * scan partition produces, so the per-partition dense-id offsets
  * prefix-sum correctly. When the batch is a pure projection over ONE
  * unbucketed, unpartitioned parquet relation with no filter, that
  * fact is already sitting in the parquet footers: Spark's split
  * planner assigns byte ranges (`FilePartition.getFilePartitions`
  * over `maxSplitBytes`-sized slices, largest-first), and the parquet
  * reader gives each range exactly the row groups whose MIDPOINT
  * (startingPos + compressedSize/2, parquet-hadoop's
  * `filterFileMetaDataByMidpoint`) falls inside it. Reproducing that
  * arithmetic on the driver replaces a whole cluster job — a count
  * scan over the full source, which at 100 TB is the single most
  * expensive step of the insert — with a handful of footer reads.
  *
  * Safety: the split packing is computed by SPARK'S OWN
  * `FilePartition.getFilePartitions` / `maxSplitBytes` (not a
  * re-implementation), under the same session confs the write job
  * runs with; the midpoint rule is the parquet-hadoop contract the
  * vectorized reader itself uses. Any shape this logic does not
  * recognize — a filter, a union, a bucketed or partitioned relation,
  * more than [[MaxFiles]] files, a footer read error — returns None
  * and the caller falls back to the one-pass stats job. A wrong count
  * would break id density, which the g3/g7 oracles and
  * InsertFooterSpec pin hash-exactly.
  *
  * Reference semantics: src/database/auto_increment.rs:6-33 (dense
  * sequential ids); this is purely a plan-level optimization of how
  * the engine computes the same assignment.
  */
object FooterCounts {
  /** Driver-side footer reads stay O(files); beyond this the count
    * job's distributed scan is the better plan anyway. */
  private val MaxFiles = 64

  /** (path, len, mtime) → per-row-group (midpoint, rowCount). Footers
    * are immutable for a given file generation; keying by length +
    * mtime invalidates naturally on rewrite. */
  private val footerCache =
    new ConcurrentHashMap[(String, Long, Long), Array[(Long, Long)]]()

  /** Test/observability hook: number of inserts served from footers. */
  val hits = new AtomicLong(0)

  /** Strip the batch down to its scan relation iff the plan is a
    * chain of deterministic Projects over exactly one parquet
    * LogicalRelation (no Filter — filters change per-split counts). */
  private def pureParquetScan(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case Project(exprs, child) if exprs.forall(_.deterministic) =>
      pureParquetScan(child)
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
              fs.bucketSpec.isEmpty && fs.partitionSchema.isEmpty =>
          Some(fs)
        case _ => None
      }
    case _ => None
  }

  /** Per-partition row counts of `df`'s scan, or None when the shape
    * is not provably metadata-derivable. The partitions follow the
    * session's file-split confs, so the batch's jobs must run under
    * the same confs; the engine sets none per statement. */
  def perPartitionCounts(spark: SparkSession, df: DataFrame): Option[Array[Long]] =
    try {
      pureParquetScan(df.queryExecution.optimizedPlan).flatMap { fs =>
        val selected = fs.location.listFiles(Nil, Nil)
        val files = selected.flatMap(_.files)
        if (files.isEmpty) return Some(Array.empty[Long])
        if (files.size > MaxFiles) return None
        val hadoopConf = spark.sessionState.newHadoopConf()
        // (midpoint, rows) per row group, per file path string.
        val blocksByPath: Map[String, Array[(Long, Long)]] = files.map { f =>
          val key = (f.getPath.toString, f.getLen, f.getModificationTime)
          val blocks = footerCache.computeIfAbsent(key, { _ =>
            val in = HadoopInputFile.fromPath(f.getPath, hadoopConf)
            val r = ParquetFileReader.open(in)
            try r.getFooter.getBlocks.asScala.map { b =>
              (b.getStartingPos + b.getCompressedSize / 2, b.getRowCount)
            }.toArray
            finally r.close()
          })
          key._1 -> blocks
        }.toMap
        // Spark's own split planning, under the live session confs:
        // slice each file into maxSplitBytes ranges, stable-sort
        // largest-first, bin-pack (FileSourceScanExec.createReadRDD).
        val maxSplit = FilePartition.maxSplitBytes(spark, selected)
        val splits = selected.flatMap { pd =>
          pd.files.flatMap { f =>
            PartitionedFileUtil.splitFiles(
              f, f.getPath, isSplitable = true, maxSplit, pd.values)
          }
        }.sortBy(_.length)(implicitly[Ordering[Long]].reverse)
        val parts = FilePartition.getFilePartitions(spark, splits, maxSplit)
        val counts = parts.map { part =>
          part.files.map { pf =>
            val lo = pf.start
            val hi = pf.start + pf.length
            blocksByPath.get(pf.filePath.toPath.toString).fold(return None) { blocks =>
              blocks.collect { case (mid, rows) if mid >= lo && mid < hi => rows }.sum
            }
          }.sum
        }.toArray
        hits.incrementAndGet()
        Some(counts)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
}
