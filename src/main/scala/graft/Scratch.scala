package graft

import org.apache.spark.sql.DataFrame

/** Thread-scoped registry of executor-materialized scratch state
  * (`localCheckpoint` snapshots), releasing blocks through the EXACT
  * handles that created them.
  *
  * Why it exists (r16 ADVICE, medium): the long-running callers — the
  * 24/7 ingest streams' per-batch cleanup, the lake's `deleteKeys` key
  * frame — previously released batch-scoped blocks by diffing
  * `sparkContext.getPersistentRDDs` before/after the batch. That registry
  * is SESSION-global: any concurrent work sharing the SparkSession (a
  * second ingest stream on another index, a caller caching on another
  * thread) that persisted during the window got its blocks released
  * mid-flight — and for a localCheckpointed RDD, whose lineage is
  * truncated, `unpersist` deletes the only copy, so the victim job dies
  * with a missing-block error instead of recomputing. Here every
  * snapshot registers its own RDD handle with the innermost scope OPEN
  * ON ITS OWN THREAD, and scope exit unpersists exactly those handles —
  * a foreign thread's state is untouchable by construction.
  *
  * Usage: deep call sites ([[operators.Similarity]]'s distributed-probe
  * and rescore snapshots) take snapshots through [[snapshot]], and a
  * method that releases its own snapshot ([[io.Manifest]]'s
  * `deleteKeys`) through [[snapshotManaged]]; the
  * owning driver loop (a stream's `foreachBatch` body) wraps the batch
  * in [[scoped]]. With no scope open, [[snapshot]] degrades to a plain
  * `localCheckpoint` whose blocks fall to the caller's own lifecycle
  * (Verify/Bench sweep per query from their single-tenant harness
  * sessions; one-shot callers leave them to session teardown) — exactly
  * the pre-existing one-shot behavior. */
private[graft] object Scratch {

  private val scopes =
    new ThreadLocal[java.util.ArrayDeque[java.util.ArrayList[() => Unit]]] {
      override def initialValue() =
        new java.util.ArrayDeque[java.util.ArrayList[() => Unit]]()
    }

  /** Register a release with the innermost scope on this thread; no-op
    * without one. Registration is scope-exit-deferred, so only state
    * whose lifetime should extend to the scope's end belongs here —
    * short-lived state a method can release itself should use
    * [[snapshotManaged]]. */
  def register(release: () => Unit): Unit = {
    val s = scopes.get()
    if (!s.isEmpty) { s.peek().add(release); () }
  }

  /** Eager executor-side snapshot (`Dataset.localCheckpoint`) plus the
    * exact-handle release thunk for its blocks. The thunk is idempotent
    * and releases ONLY this snapshot's RDD — never a session-global
    * sweep. Not registered with any scope: the caller owns the release. */
  def snapshotManaged(df: DataFrame): (DataFrame, () => Unit) = {
    val ck = df.localCheckpoint()
    val rdd = org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(ck)
    (ck, () => { rdd.foreach(_.unpersist(false)); () })
  }

  /** [[snapshotManaged]] whose release is handed to the innermost open
    * scope on this thread (scope-exit release); without a scope the
    * blocks stay until the caller's own lifecycle frees them. */
  def snapshot(df: DataFrame): DataFrame = {
    val (ck, release) = snapshotManaged(df)
    register(release)
    ck
  }

  /** Run `body` with a fresh scope open on this thread; on exit (normal
    * or exceptional) release everything the body registered — and ONLY
    * that. Scopes nest: an inner scope's registrations release at the
    * INNER exit. */
  def scoped[A](body: => A): A = {
    val stack = scopes.get()
    val scope = new java.util.ArrayList[() => Unit]()
    stack.push(scope)
    try body
    finally {
      stack.pop()
      scope.forEach { release =>
        try release()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }
}
