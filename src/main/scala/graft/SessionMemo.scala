package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.CheckpointHygiene

/** A value built once per (session, dir) and shared by every query of the
  * session that asks for it (SparkEntry's shared-subplan convention).
  *
  *  - `computeIfAbsent` serializes concurrent first arrivals, so a key
  *    builds once even with queries running concurrently (graft.Verify
  *    runs 4 at a time).
  *  - Keys of stopped sessions are pruned on access: their blocks died
  *    with the context.
  *  - Retention is bounded to the latest dir per session, so a long-lived
  *    session sweeping many dirs holds one value per memo: asking for a
  *    new dir evicts the session's other entries, and each evicted value
  *    goes to `release` once. Release errors are swallowed, since
  *    dropping the reference alone lets Spark's ContextCleaner reclaim
  *    the blocks on a later GC.
  *
  * A build may call other memos but never its own instance:
  * `ConcurrentHashMap` rejects recursive updates. */
private[graft] final class SessionMemo[V] private (
    seal: V => V, release: V => Unit) {
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), V]

  def apply(s: SparkSession, dir: String)(build: => V): V = {
    memo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    memo.forEach { (k, v) =>
      // remove(k, v) succeeds for one caller only: one release per value
      if ((k._1 eq s) && k._2 != dir && memo.remove(k, v))
        try release(v) catch { case NonFatal(_) => () }
    }
    memo.computeIfAbsent((s, dir), _ => seal(build))
  }
}

private[graft] object SessionMemo {

  /** A memo of frames materialized by an eager localCheckpoint. Eviction
    * unpersists the checkpoint's blocks. */
  def checkpointed(): SessionMemo[DataFrame] =
    new SessionMemo[DataFrame](_.localCheckpoint(eager = true),
      df => unpersist(df))

  /** A memo whose build materializes its own value; `release` frees what
    * the build made, and only that. */
  def apply[V](release: V => Unit): SessionMemo[V] =
    new SessionMemo[V](identity, release)

  /** Blocking unpersist of the checkpoint blocks each frame's plan reads.
    * Eviction is rare (one per dir switch), so the synchronous round-trip
    * costs little, and an asynchronous cleanup could race a later
    * consumer or a session teardown. */
  def unpersist(frames: DataFrame*): Unit =
    frames.flatMap(CheckpointHygiene.handlesOf)
      .foreach(_.unpersist(blocking = true))
}
