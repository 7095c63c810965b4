package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: Spark pipeline + optional DuckDB oracle SQL —
  * the unit every query registry is assembled from ([[SegmentQueries]]
  * here, the per-family query modules in the curation module).
  */
private[graft] final case class Q(name: String,
    fn: (SparkSession, String) => DataFrame, oracle: Option[String])
