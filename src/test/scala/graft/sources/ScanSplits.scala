package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan

/** Planned-split counting shared by the specs. A plain batch scan packs
  * small files into about one task per core, so a partition count no
  * longer counts files. These helpers count the splits behind the
  * partitions instead (whole files, byte ranges of large files, or
  * block-index chunks), and every other partition as one — what a
  * partition count meant when each partition held a single split.
  */
object ScanSplits {

  /** Splits the v2 scans of `df`'s executed plan read. */
  def count(df: DataFrame): Int = AvroFileSource.plannedSplits(df).length

  /** Splits a built scan plans now (after any runtime filters). */
  def count(scan: Scan): Int =
    AvroPackedPartition.flatten(scan.toBatch.planInputPartitions().toSeq).length

  /** Distinct data files the v2 scans of `df` read. */
  def files(df: DataFrame): Int = AvroFileSource.plannedSplits(df).collect {
    case p: AvroInputPartition => p.file
    case k: AvroKeyedPartition => k.file
  }.distinct.size
}
