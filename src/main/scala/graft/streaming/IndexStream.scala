package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The CONTINUOUS form of persisted-index ingest (SURVEY.md §2.7 O6b,
  * §2.8 O6c — the [[CorpusStream]] discipline applied to the batch-list
  * indexes): a Structured Streaming source lands through the index's
  * append one micro-batch at a time — each micro-batch staged once,
  * published as one atomic batch directory and committed by the
  * self-healing meta swap. Runs with `AvailableNow` and returns the
  * terminated query.
  *
  * Exactly-once BY CONSTRUCTION, at two independent layers:
  *  1. the stream's checkpoint stops a restarted query from
  *     re-reading processed files;
  *  2. a redelivered micro-batch (fresh checkpoint, crash between the
  *     publish and the stream's commit) carries the same row set, so
  *     its content-derived batch id is already on the committed (or,
  *     after compaction, retired) list; the typed
  *     [[graft.ReplayRefused]] is caught HERE and treated as "already
  *     done" — never a message-substring match — so at-least-once
  *     delivery becomes exactly-once commitment. Any other failure
  *     still fails the query loudly.
  * Empty micro-batches are skipped outright: all empty sets share one
  * content id, and there is nothing to land.
  *
  * SCOPE of layer 2 — identical composition only: a fresh-checkpoint
  * re-read of the same source under a different file grouping (changed
  * `maxFilesPerTrigger`, re-laid-out source) composes the same rows
  * into differently-id'd batches and lands them twice. The operational
  * contract is therefore ONE CHECKPOINT PER INDEX: resetting it
  * against a live index requires rebuilding the index (or dropping the
  * re-read batches). On the BM25 index the double landing corrupts
  * tf/df/N; on the vector index it adds duplicate code rows that
  * [[graft.operators.VectorIndex.topK]]'s read-side dropDuplicates
  * masks but the index still carries. A per-document overlap probe
  * would cost a corpus-id-sized read per micro-batch, the wrong trade
  * for a guard against an operator error the checkpoint already
  * prevents in normal operation.
  */
private[streaming] object IndexStream {

  def sink(rows: DataFrame, checkpointDir: String)(
      append: DataFrame => Unit): StreamingQuery = {
    val q = rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          try append(batch.toDF())
          catch { case _: graft.ReplayRefused => () }
        }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}

/** Streaming lexical-index ingest through
  * [[graft.operators.Bm25.appendBm25Index]] ([[IndexStream]] contract).
  */
object Bm25Stream {

  def bm25IndexSink(docs: DataFrame, textCol: String, indexPath: String,
                    checkpointDir: String): StreamingQuery =
    IndexStream.sink(docs, checkpointDir) { batch =>
      graft.operators.Bm25.appendBm25Index(batch, textCol, indexPath); ()
    }
}

/** Streaming dense-index ingest through
  * [[graft.operators.VectorIndex.append]], encoding each micro-batch
  * with the index's STORED artifacts ([[IndexStream]] contract).
  */
object VectorStream {

  def vectorIndexSink(emb: DataFrame, indexPath: String,
                      checkpointDir: String,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): StreamingQuery =
    IndexStream.sink(emb, checkpointDir) { batch =>
      graft.operators.VectorIndex.append(batch, idCol, vecCol,
        indexPath); ()
    }
}
