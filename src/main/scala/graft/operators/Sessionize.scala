package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Sessionization: gap-based sessions over the events table — window
  * functions (lag → gap flag → running sum), one shuffle on user_id;
  * exact, reproducible, DuckDB-oracle-checkable (q26). A gap SPLITS when
  * `ts - prev > gap` (boundary ties merge), the reference rule.
  */
object Sessionize {

  val GapUs: Long = 1800L * 1000000 // 30 min

  /** batch: (user_id, session_id, n_events, t_start_us, t_end_us). */
  def batch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("value"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("t_start_us"),
        max(col("ts_us")).as("t_end_us"))
  }
}
