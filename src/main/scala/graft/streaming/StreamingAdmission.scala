package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming admission through a batch operator: each micro-batch of
  * `stream` is judged by `admit` against the index being served, inside
  * one `foreachBatch` — the [[PlacementMonitor]] shape — and its verdicts
  * go to `sink`. Streaming verdicts equal batch verdicts because both run
  * the same operator. The query has no stateful operator: each row is
  * judged once, in its own micro-batch, so there is no state to grow,
  * migrate or watermark.
  *
  * [[refresh]] swaps the served index at a batch boundary without stopping
  * the query: it waits for the in-flight batch, swaps the reference, then
  * releases the old index. Rows already judged are never judged again.
  *
  * `sink` takes `(verdicts, batchId)` and must be idempotent in `batchId`:
  * a batch interrupted by a restart is replayed from the checkpoint. The
  * verdicts are a batch `DataFrame` per micro-batch, not a streaming
  * `Dataset`, so they cannot go to a file or memory sink with exactly-once
  * output; the sink writes them itself.
  *
  * @tparam I the served index; `release` frees it on swap and on [[stop]]
  */
class StreamingAdmission[I](stream: DataFrame, checkpointDir: String,
    admit: (DataFrame, I) => DataFrame, release: I => Unit,
    sink: (DataFrame, Long) => Unit) {
  // held by every micro-batch while it reads `current`, and by a swap
  private val serving = new Object
  private var current: Option[I] = None
  @volatile private var running: StreamingQuery = _

  /** The running query, or null before [[start]] and after [[stop]]. */
  def query: StreamingQuery = running

  /** Serve `index`; ownership passes to this runner. */
  def start(index: I): Unit = synchronized {
    require(running == null, "already started — use refresh(newIndex)")
    serving.synchronized { current = Some(index) }
    running = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        serving.synchronized { sink(admit(batch, current.get), batchId) }
      }
      .start()
  }

  /** Serve `newIndex` from the next micro-batch on; the old index is
    * released once the in-flight batch has finished with it. */
  def refresh(newIndex: I): Unit = synchronized {
    require(running != null, "not started")
    val old = serving.synchronized {
      val o = current; current = Some(newIndex); o
    }
    old.foreach(release)
  }

  def processAllAvailable(): Unit = running.processAllAvailable()

  def stop(): Unit = synchronized {
    // the query stops before `serving` is taken: a micro-batch waiting on
    // it could not be interrupted
    if (running != null) { running.stop(); running.awaitTermination(); running = null }
    serving.synchronized { current.foreach(release); current = None }
  }
}
