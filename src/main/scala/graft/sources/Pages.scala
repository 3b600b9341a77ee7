package graft.sources

import org.apache.parquet.hadoop.ParquetOutputFormat

/** The page layout of every readings-shaped store: the tiers
  * (`Tiers.writeTier`), the tier-0 landing (`Ingest.tier0Writer`) and the
  * BUFF planes (`BuffStore.write`).
  *
  * Parquet's column index (the per-page min/max its writer records in the
  * footer) is this store's per-segment zone map: the reference keeps
  * min/max stats per fixed-size segment (`buffer_pool.rs` AggStats) and its
  * progressive filter skips every segment they rule out
  * (`buff_simd.rs:4507`). Spark's Parquet reader filters pages on that
  * index with every pushed predicate, so capping pages at [[Rows]] rows
  * lets a selective read skip 1,024-row runs of a file instead of only
  * whole files (one row group of one page per column at the writer's
  * defaults for a 4,096-row signal). Rows stay in the order they are
  * written, `(signal_id, seq_no)` for the readings stores. Row groups keep
  * their default size.
  */
object Pages {

  /** Rows per page: the reference's 1,000-row segment rounded to a power
    * of two, so a 4,096-row signal file splits into whole pages.
    */
  val Rows = 1024

  /** Writer options that cap every page of the written files at [[Rows]]. */
  val WriterOptions: Map[String, String] =
    Map(ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT -> Rows.toString)
}
