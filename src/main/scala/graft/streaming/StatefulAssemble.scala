package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One span arriving on the stream: `n_spans` carries the doc's expected
  * span count (known at source — the producer wrote the doc); `ts` is the
  * span's event time (drives the watermark that bounds state AND evicts
  * never-completing docs). */
final case class SpanIn(doc_id: String, offset: Int, kind: String, text: String,
    media_ref: String, n_spans: Int, ts: java.sql.Timestamp)

/** Buffered partial document (spans deduped by offset) + expected count. */
final case class DocBuf(spans: List[(Int, String, String, String)], expected: Int)

/** An assembled document: per-doc fingerprint over the ordered spans —
  * IDENTICAL formula to the batch [[graft.query.GeoQueries.spanRoundtrip]]
  * (md5 of "kind|text|media_ref|offset" joined by ";", span order), so
  * stream and batch outputs are directly comparable. `complete = false`
  * marks a doc EVICTED by the event-time timeout before all spans arrived —
  * the stream's dead-letter row (reference T5 analog). */
final case class DocOut(doc_id: String, n_spans: Int, fp: String, complete: Boolean)

/**
 * Stateful document assembly on an unbounded span stream — the Structured
 * Streaming restatement of the reference's keyed sub-stream processing
 * (`groupAndMapSubflowWithKey`, SURVEY.md G3): spans of one doc may arrive
 * across micro-batches; `flatMapGroupsWithState` holds the partial span
 * list per doc_id and emits exactly one fingerprint row when the doc's
 * expected span count is reached.
 *
 * At-least-once sources re-deliver spans, so the buffer DEDUPES BY OFFSET
 * before the completion check (round-2 advice: a replayed span must not
 * complete a doc early with a duplicate in place of a missing span), and a
 * doc whose spans never all arrive is EVICTED by an event-time timeout
 * ([[TIMEOUT_GAP_MS]] past the watermark / its last arrival) as a
 * `complete = false` dead-letter row — the reference's failed-object
 * requeue (T5) restated for streams.
 *
 * At scale: state is partitioned by doc_id (one shuffle), per-key state is
 * O(spans of one doc); completed keys are REMOVED and stragglers are
 * timed out, so steady-state memory is bounded by in-flight docs inside the
 * watermark horizon, never O(stream).
 */
object StatefulAssemble {

  /** Eviction gap: a doc still incomplete this long (event time) after its
    * last arrival / the watermark is dead-lettered. */
  final val TIMEOUT_GAP_MS: Long = 60 * 1000L

  /** The batch-identical fingerprint of one doc's (offset-ordered) spans. */
  def fingerprint(spans: Seq[(Int, String, String, String)]): String =
    graft.text.TextOps.md5hex(spans.sortBy(_._1)
      .map { case (off, kind, text, ref) => s"$kind|$text|$ref|$off" }
      .mkString(";"))

  private def assembleGroup(
      docId: String, in: Iterator[SpanIn], state: GroupState[DocBuf]): Iterator[DocOut] = {
    if (state.hasTimedOut) {
      // never completed inside the watermark horizon -> dead-letter row
      val buf = state.getOption.map(_.spans).getOrElse(Nil)
      state.remove()
      return Iterator.single(DocOut(docId, buf.length, fingerprint(buf), complete = false))
    }
    val arrived = in.toList
    val expected = state.getOption.map(_.expected)
      .orElse(arrived.headOption.map(_.n_spans)).getOrElse(Int.MaxValue)
    // dedup by offset (first delivery wins): an at-least-once re-delivery
    // must not count toward completion in place of a missing span
    val buf = (state.getOption.map(_.spans).getOrElse(Nil) ++
      arrived.map(s => (s.offset, s.kind, s.text, s.media_ref))).distinctBy(_._1)
    if (buf.length >= expected) {
      state.remove() // completed: bounded state
      Iterator.single(DocOut(docId, buf.length, fingerprint(buf), complete = true))
    } else {
      state.update(DocBuf(buf, expected))
      if (arrived.nonEmpty) {
        // arm/extend eviction: gap past the newest of (watermark, this
        // batch's max event time) — always strictly beyond the watermark.
        // On a BATCH Dataset Catalyst strips withWatermark, so
        // getCurrentWatermarkMs throws — and timeouts never fire there
        // anyway, so skip arming rather than crash the documented
        // batch-mode path.
        val maxEventMs = arrived.map(_.ts.getTime).max
        scala.util.Try(state.getCurrentWatermarkMs()).toOption.foreach { wm =>
          state.setTimeoutTimestamp(math.max(wm, maxEventMs) + TIMEOUT_GAP_MS)
        }
      }
      Iterator.empty
    }
  }

  /** Assemble a (possibly streaming) span Dataset into per-doc fingerprint
    * rows: `complete = true` on the expected span count, `complete = false`
    * for timed-out stragglers. Works on a batch Dataset too (timeouts never
    * fire there — Spark plans flatMapGroupsWithState as a regular agg-like
    * operator). */
  def assemble(spark: SparkSession, spans: Dataset[SpanIn],
      watermark: String = "10 minutes"): Dataset[DocOut] = {
    import spark.implicits._
    spans.withWatermark("ts", watermark)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(assembleGroup)
  }

  /** Dead-letter split (reference T5 for streams): (completed, evicted). */
  def route(out: Dataset[DocOut]): (Dataset[DocOut], Dataset[DocOut]) =
    (out.filter(_.complete), out.filter(!_.complete))
}
