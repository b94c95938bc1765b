package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming as-of (temporal-table) join: enrich a stream of events
  * with the latest-at-or-before row of a co-keyed update stream —
  * Flink's temporal join / kdb's `aj`, as a Spark
  * `flatMapGroupsWithState` operator.
  *
  * State is ONE row per key (the newest update seen), so state volume
  * is bounded by key cardinality — no watermark horizon needed, unlike
  * a stream-stream interval join whose state holds a whole time range
  * of both sides. Within a trigger the group's rows are processed in
  * event-time order (updates before events at an equal timestamp), so
  * a single-trigger feed computes the exact batch as-of join
  * ([[graft.operators.Temporal.asofJoin]] semantics, oracle-checkable);
  * across triggers the state is whatever has arrived — the standard
  * processing-time temporal-join contract.
  */
object TemporalState {

  /** Tagged union row of the two streams: tag 0 = update (the right /
    * dimension side), tag 1 = event to enrich. `value` rides along for
    * events; `event_id` doubles as the deterministic tie-breaker.
    */
  case class AsofIn(user_id: Long, tsu: Long, tag: Int, event_id: Long,
      value: Double)

  /** Newest update seen for the key (state row). */
  case class Latest(click_id: Long, click_tsu: Long)

  /** An enriched event: the input event plus the as-of matched update
    * (None when no update preceded it).
    */
  case class Attributed(event_id: Long, user_id: Long, tsu: Long,
      value: Double, click_id: Option[Long], click_tsu: Option[Long])

  /** Enrich tag-1 rows with the latest tag-0 row at-or-before them.
    * Updates only ever advance the state forward in (tsu, event_id),
    * so replayed or reordered older updates can't regress it.
    */
  def asofEnrich(in: Dataset[AsofIn]): Dataset[Attributed] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState[Latest, Attributed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AsofIn], state: GroupState[Latest]) =>
          // event-time order inside the trigger; equal timestamps put
          // updates first (as-of <= visibility) and resolve update
          // ties toward the greatest event_id (matches the batch
          // operator's rightOrd pinning)
          val rows = it.toVector.sortBy(r => (r.tsu, r.tag, r.event_id))
          var st = state.getOption
          val out = Vector.newBuilder[Attributed]
          rows.foreach { r =>
            if (r.tag == 0) {
              if (st.forall(s => s.click_tsu < r.tsu ||
                  (s.click_tsu == r.tsu && s.click_id < r.event_id)))
                st = Some(Latest(r.event_id, r.tsu))
            } else {
              out += Attributed(r.event_id, uid, r.tsu, r.value,
                st.map(_.click_id), st.map(_.click_tsu))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Driver-contract query, fully oracle-checked: the attribution
    * as-of join computed through the STREAMING state machine. The
    * whole (capped) corpus arrives as one trigger, so the in-trigger
    * event-time ordering makes the result exactly the batch as-of
    * join — the same DuckDB ASOF JOIN oracle validates a third,
    * independent implementation of the semantics. The event_id cap
    * keeps the harness feed bounded and is mirrored in the oracle.
    */
  def streamingAsofQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .filter(col("event_id") < Streams.HarnessFeedCap)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("tsu"), col("value"), col("event_type"))
      .collect() // bounded: HarnessFeedCap
      .map(r => AsofIn(r.getLong(1), r.getLong(2),
        if (r.getString(4) == "click") 0 else 1, r.getLong(0), r.getDouble(3)))
    Streams.streamTable(spark, "asof_enrich", Seq(ev.toSeq), OutputMode.Append)(
        asofEnrich)
      .select(col("event_id"), col("user_id"), col("tsu"), col("value"),
        col("click_id"), col("click_tsu"))
      .orderBy(col("event_id"))
  }
}
