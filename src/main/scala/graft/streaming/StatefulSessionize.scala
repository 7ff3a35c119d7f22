package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Custom-state streaming sessionization with
  * `KeyValueGroupedDataset.flatMapGroupsWithState` — the arbitrary-state
  * analogue of the batch `Temporal.sessionize` (lag + running sum).
  *
  * Per user, the state carries (last event time, current session id); a new
  * session opens when the gap to the previous event exceeds `gapSeconds`.
  * Because the state lives in the checkpointed state store, sessions
  * CONTINUE across micro-batches and across restarts — the property the
  * batch window form cannot give on an unbounded stream.
  *
  * State sizing: one (long, long) pair per active user. On a real
  * deployment pair with `GroupStateTimeout.EventTimeTimeout` + a watermark
  * to evict idle users; the backlog-replay path here uses NoTimeout so the
  * result is exactly reproducible.
  */
object StatefulSessionize {

  case class Ev(user_id: Long, ts_us: Long)
  case class SessionState(lastTs: Long, sessionId: Long)
  case class SessionedEv(user_id: Long, ts_us: Long, session_id: Long)

  /** Sessionize a (possibly streaming) typed event set. Events within one
    * micro-batch are sorted per key before applying state — arrival order
    * inside a batch is not time order.
    */
  def sessionizeTyped(events: org.apache.spark.sql.Dataset[Ev], gapSeconds: Long)
      : org.apache.spark.sql.Dataset[SessionedEv] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionedEv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(_.ts_us)
          var (last, sid) = state.getOption
            .map(s => (s.lastTs, s.sessionId))
            .getOrElse((Long.MinValue, -1L))
          val out = sorted.map { e =>
            if (last == Long.MinValue || e.ts_us - last > gapSeconds * 1000000L)
              sid += 1
            last = e.ts_us
            SessionedEv(uid, e.ts_us, sid)
          }
          if (sorted.nonEmpty) state.update(SessionState(last, sid))
          out.iterator
      }
  }

  /** Replay a parquet backlog through the stateful sessionizer with
    * AvailableNow, appending sessionized events to `targetPath` through
    * the parquet file sink (a replayed batch writes nothing). With
    * `maxFilesPerTrigger=1` each file is its own micro-batch, so sessions
    * provably span batch boundaries via the state store.
    */
  def runAvailableNow(
      spark: SparkSession,
      sourceDir: String,
      schema: StructType,
      targetPath: String,
      checkpointDir: String,
      gapSeconds: Long,
      timeCol: String = "ts",
      keyCol: String = "user_id",
      maxFilesPerTrigger: Int = 1,
  ): Unit = {
    import spark.implicits._
    val raw = Backlog.read(spark, sourceDir, schema, Some(maxFilesPerTrigger))
    // epoch-µs from whatever physical shape the parquet carries: raw
    // INT64 nanos divide straight down; timestamp variants normalize via
    // the shared session-TZ rule first (see StreamingUpsert.eventTime)
    val tsUs = schema(timeCol).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$timeCol div 1000")
      case _ => unix_micros(StreamingUpsert.eventTime(schema, timeCol))
    }
    val typed = raw.select(
      col(keyCol).cast("long").as("user_id"),
      tsUs.as("ts_us")).as[Ev]
    Backlog.toFiles(sessionizeTyped(typed, gapSeconds), targetPath,
      checkpointDir)
  }
}
