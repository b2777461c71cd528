package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Late-data and state-size observability for streaming queries
  * (VERDICT r6 item 5).
  *
  * The watermark path drops late rows SILENTLY: an event older than the
  * current watermark simply never appears in any window, and nothing in
  * the output frame says so. At 100 TB/day that silence is how a
  * mis-sized watermark (or a skewed upstream producer) quietly loses
  * percent-level data for weeks. The engine already exposes the counters
  * — `StreamingQueryProgress.stateOperators[i].numRowsDroppedByWatermark`
  * plus the state-store size gauges — this object turns them into the
  * same kind of queryable frame the [[HeavyHitters]] monitor publishes,
  * so "are we dropping late data, and how big is my state?" is a
  * DataFrame query, not a log grep.
  *
  * Two surfaces, same schema:
  *   - [[frame]]: pull — snapshot a live/finished query's retained
  *     `recentProgress` ring buffer into a DataFrame (bounded by
  *     `spark.sql.streaming.numRecentProgressUpdates`, default 100).
  *   - [[listener]]: push — a [[StreamingQueryListener]] appending one
  *     JSONL line per progress event to a local file, surviving the ring
  *     buffer for long-lived monitors. The write is a per-batch O(1)
  *     append of a few hundred bytes on the DRIVER — no executor work,
  *     no shuffle — so it costs nothing at any scale.
  *
  * One row per (progress event, stateful operator); stateless queries
  * yield one row with null operator fields, so "no state" and "no
  * progress" stay distinguishable.
  */
object StreamHealth {

  /** One (progress, state-operator) observation. */
  final case class Obs(
      query: String,
      batch_id: Long,
      ts: String,
      input_rows: Long,
      watermark: String,
      op: Option[String],
      dropped_by_watermark: Option[Long],
      state_rows: Option[Long],
      state_mem_bytes: Option[Long])

  private def observations(q: StreamingQuery): Seq[Obs] =
    q.recentProgress.toSeq.flatMap { p =>
      val wm = Option(p.eventTime).map(_.get("watermark")).orNull
      val base = Obs(Option(p.name).getOrElse(p.id.toString), p.batchId,
        p.timestamp, p.numInputRows, wm, None, None, None, None)
      if (p.stateOperators.isEmpty) Seq(base)
      else p.stateOperators.toSeq.map { so =>
        base.copy(op = Some(so.operatorName),
          dropped_by_watermark = Some(so.numRowsDroppedByWatermark),
          state_rows = Some(so.numRowsTotal),
          state_mem_bytes = Some(so.memoryUsedBytes))
      }
    }

  /** Snapshot the query's retained progress history as a monitor frame. */
  def frame(spark: SparkSession, q: StreamingQuery): DataFrame = {
    import spark.implicits._
    observations(q).toDF()
  }

  /** Total late rows the watermark has dropped across the retained
    * progress history — the one number an alerting rule needs.
    */
  def droppedByWatermark(q: StreamingQuery): Long =
    observations(q).flatMap(_.dropped_by_watermark).sum

  /** A health log moves to `<path>.1` before an append would take it past
    * this size, so a long-running query keeps at most two logs of 4 MiB.
    */
  private val MaxLogBytes = 4L * 1024 * 1024

  /** Push-mode surface: append one JSONL line per progress event to
    * `path`. Register with `spark.streams.addListener(...)`; remove with
    * `removeListener` when done. Uses the engine's own `progress.json()`
    * rendering (prettyJson minus whitespace), so every metric the engine
    * reports — not just the columns [[frame]] projects — lands in the
    * log. Before an append that would take the file past 4 MiB, the file
    * moves to `<path>.1`, replacing the older one.
    */
  def listener(path: String): StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      try {
        val p = Paths.get(path)
        if (p.getParent != null) Files.createDirectories(p.getParent)
        val line = (e.progress.json + "\n").getBytes("UTF-8")
        if (Files.exists(p) && Files.size(p) + line.length > MaxLogBytes)
          Files.move(p, Paths.get(path + ".1"), StandardCopyOption.REPLACE_EXISTING)
        Files.write(p, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      } catch { case ex: Throwable =>
        // Observability must never kill the query it observes.
        System.err.println(s"[stream-health] append failed: ${ex.getMessage}")
      }
    }
  }
}
