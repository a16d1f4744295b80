package graft.typed

/** Row classes of the typed streaming operators in
  * `graft.streaming.MicroBatchIngest`.
  */
final case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Option[Double],
    props: String)

/** A closed activity session (streaming sessionization output). */
final case class Session(
    user_id: Long,
    start_ts: java.sql.Timestamp,
    end_ts: java.sql.Timestamp,
    n_events: Long,
    value_sum: Double)

/** Streaming KMV sketch output: distinct values retained (capped at k,
  * exact below it) and the (k-1)/U(k) estimate.
  */
final case class KmvEstimate(key: String, n_distinct_capped: Int, est_distinct: Double)
