package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aggregation operators A1–A6 (SURVEY §2.4).
  *
  * Scale posture: every aggregate here is hash-aggregatable with map-side
  * partial aggregation (Spark splits HashAggregate into partial/final
  * automatically). Pre-aggregating facts BEFORE joining dimensions is the
  * reference's own shape (initial_load…py:169-209) and also the 100 TB
  * shape: the join input shrinks from |facts| to |keys|.
  */
object Aggregates {

  /** A1: lifetime totals per campaign — count + max event time
    * (initial_load…py:169-186). */
  def totalsPerCampaign(facts: DataFrame, countAs: String,
                        maxAs: String): DataFrame =
    facts.groupBy("campaign_id").agg(
      count(lit(1)).as(countAs),
      max(col("created_at")).as(maxAs))
}
