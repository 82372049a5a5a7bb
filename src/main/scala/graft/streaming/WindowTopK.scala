package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Windowed TOP-K: per tumbling event-time window, the top-k event types
  * by count, ties broken by type name — top-k-per-group (q25) where the
  * group is a time window, the shape of a "leaderboard per window"
  * dashboard.
  */
object WindowTopK {

  /** Windowed count + rank ≤ k over every tumbling window — the
    * oracle-graded face (q122). One shuffle for the (window, type) agg;
    * the rank runs per window over a type-vocabulary-sized group, and
    * rank ≤ k plans WindowGroupLimit.
    */
  def batchTopK(events: DataFrame, tsCol: String, typeCol: String,
                windowMinutes: Int, k: Int): DataFrame = {
    val counts = events
      .groupBy(window(col(tsCol), s"$windowMinutes minutes").as("w"),
        col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n"))
    val byWin = Window.partitionBy(col("w"))
      .orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rnk", row_number().over(byWin))
      .filter(col("rnk") <= k)
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
        col("rnk"), col("event_type"), col("n"))
      .orderBy("ws", "rnk")
  }
}
