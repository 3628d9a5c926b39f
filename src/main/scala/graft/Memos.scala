package graft

import org.apache.spark.sql.SparkSession

/** Stable session identity for memo keys.
  *
  * `System.identityHashCode` is NOT unique across a JVM's lifetime —
  * a collision would hand a caller a memoized DataFrame bound to
  * another (possibly stopped) session. The classic session exposes a
  * real UUID; fall back to identity hash only for exotic session
  * implementations (none exist in this engine's deployments).
  */
object SessionKeys {
  // sessionUUID is private[sql] in the Scala signature but public in
  // bytecode — same one-line bridge pattern as ColumnBridge
  private val uuidMethod =
    try Some(classOf[org.apache.spark.sql.classic.SparkSession].getMethod("sessionUUID"))
    catch { case _: Throwable => None }

  def of(s: SparkSession): String = s match {
    case c: org.apache.spark.sql.classic.SparkSession if uuidMethod.isDefined =>
      uuidMethod.get.invoke(c).asInstanceOf[String]
    case other => "idhash-" + System.identityHashCode(other)
  }
}

/** Stable INPUT-PLAN identity for memo keys.
  *
  * `semanticHash()` is 32 bits: a session that memoizes many distinct
  * input plans walks into birthday-collision territory, and a
  * collision here doesn't crash — it silently serves another plan's
  * cached cluster labels / pair table / trained model. A 128-bit
  * digest of the canonicalized plan string makes that probability
  * negligible while staying cheap (one SHA-256 over a plan string per
  * memo lookup; canonicalization normalizes expression ids, so
  * semantically-equal plans still share a key).
  *
  * The plan STRING alone is not enough: a `LocalRelation` prints only
  * its output attributes, so two literal frames with the same schema
  * but different rows stringify identically. Fold each local
  * relation's row data and the plan's `semanticHash` (a case-class
  * hash, which DOES see the rows) into the digest so literal inputs
  * with equal shapes stay distinct.
  */
object PlanKeys {
  def of(df: org.apache.spark.sql.DataFrame): String = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val plan = df.queryExecution.analyzed.canonicalized
    md.update(plan.toString.getBytes(utf8))
    md.update(java.nio.ByteBuffer.allocate(4).putInt(plan.hashCode()).array())
    plan.foreach {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.data.foreach(row => md.update(row.toString.getBytes(utf8)))
      case _ => ()
    }
    md.digest().take(16).map(b => f"$b%02x").mkString
  }
}

/** Tiny synchronized LRU memo with an eviction hook — the shape every
  * per-session materialized-artifact cache in this engine uses
  * (candidate pair tables, IVF indexes, settled streaming results).
  * Bounded so a long-lived session can't pin artifacts forever; the
  * eviction hook unpersists what the entry had materialized (safe:
  * Spark recomputes from lineage for any caller still holding the
  * evicted value). `onClear` is the release [[clear]] runs per entry
  * — stronger than the evict hook where an explicit reset may free
  * what capacity eviction must not (blocking unpersist, checkpoint
  * release). Every memo joins the [[Memos]] registry when built, so
  * [[Memos.clearAll]] reaches it without a hand-kept list.
  */
final class BoundedMemo[K, V](capacity: Int, onEvict: V => Unit = (_: V) => (),
    name: String = "memo", onClear: V => Unit = (_: V) => ()) {
  private val map = new java.util.LinkedHashMap[K, V](capacity, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = size() > capacity
      if (evict) {
        System.err.println(s"[memo] $name evict key=${e.getKey}")
        try onEvict(e.getValue) catch { case _: Throwable => () }
      }
      evict
    }
  }

  // one stderr line per lookup: the cheapest possible answer to "did
  // the bench's x8→x10 / x17→x33 reuse actually hit?" (a silent miss
  // rebuilds a persisted corpus-scale artifact per query)
  private def trace(outcome: String, key: K): Unit =
    System.err.println(s"[memo] $name $outcome key=$key")

  /** Build-under-lock get-or-create: fine when `build` only constructs
    * a lazy plan. Use [[get]]/[[putIfAbsent]] when the build runs jobs
    * (holding the lock would serialize unrelated concurrent builds). */
  def getOrElseUpdate(key: K)(build: => V): V = synchronized {
    Option(map.get(key)) match {
      case Some(v) => trace("hit", key); v
      case None => trace("miss", key); val v = build; map.put(key, v); v
    }
  }

  def get(key: K): Option[V] = synchronized {
    val v = Option(map.get(key))
    trace(if (v.isDefined) "hit" else "miss", key)
    v
  }

  /** Keeps the first value if two builders raced; returns the winner.
    * The returned value is the one to use; a caller whose `value` lost
    * the race must release whatever `value` had materialized. */
  def putIfAbsent(key: K, value: V): V = synchronized {
    Option(map.get(key)).getOrElse { map.put(key, value); value }
  }

  /** Drop everything, running `onClear` per entry (the evict hook is
    * NOT called). */
  def clear(): Unit = synchronized {
    val it = map.values().iterator()
    while (it.hasNext) { try onClear(it.next()) catch { case _: Throwable => () } }
    map.clear()
  }

  Memos.register(this)
}

/** Registry of every [[BoundedMemo]] built in this JVM. Weakly held:
  * an engine memo lives in an object and stays registered for the
  * JVM's life, while a memo a test builds locally is collected as
  * usual. */
object Memos {
  private val live = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[BoundedMemo[_, _], java.lang.Boolean])

  private[graft] def register(m: BoundedMemo[_, _]): Unit =
    live.synchronized { live.add(m) }

  /** Clear every registered memo, each with its own `onClear` release
    * — the between-corpora / between-reps reset that makes rehearsal
    * cells and `calib_post_clear` start from no memoized state. Memos
    * of objects not yet initialized hold nothing to clear. */
  def clearAll(): Unit = {
    val memos = live.synchronized {
      import scala.jdk.CollectionConverters._
      live.asScala.toList
    }
    memos.foreach(_.clear())
  }
}

/** Session-scoped memo of corpus row counts keyed by
  * (session, plan key) — the shared resolution step for every
  * auto-sizing sentinel ([[graft.ops.Dedup.AutoBits]]/[[graft.ops.Dedup.AutoK]]/
  * [[graft.ops.Similarity.AutoLists]]). The r14 advice: each sentinel
  * resolution ran a `df.count()` BEFORE its family's memo lookup, so
  * the pair-table/index memos absorbed repeats of the build but never
  * the count — and the count is metadata-fast only on a plain parquet
  * scan; a derived frame (filters, projections, joins upstream) pays
  * a full job per call. Counts are 8 bytes, so memoizing them is free
  * and makes repeated auto-sized calls over the same frame one job
  * total. Cleared with the other memos
  * ([[graft.Memos.clearAll]]) so rehearsal marginals stay
  * per-corpus. */
object CorpusCounts {
  private val memo =
    new BoundedMemo[(String, String), Long](64, name = "corpus-count")

  /** The frame's row count (min 1 — sizing formulas log/divide by it),
    * memoized per (session, canonical plan). Counted OUTSIDE the memo
    * lock (the minhashCandidates pattern): the count runs a job, and a
    * global monitor around it would serialize unrelated builds. */
  def of(df: org.apache.spark.sql.DataFrame): Long = {
    val key = (SessionKeys.of(df.sparkSession), PlanKeys.of(df))
    memo.get(key).getOrElse(
      memo.putIfAbsent(key, math.max(1L, df.count())))
  }

  def clear(): Unit = memo.clear()
}
