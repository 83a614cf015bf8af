package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one memo for state derived from a fixture directory.
  *
  * Every fixture-derived value the engine keeps across calls — table
  * and artifact reader plans ([[Tables]], [[Artifacts]]), footer counts
  * ([[Tables.rowCount]]), SQL view plans ([[Graft]]), the written-once
  * scratch dirs of q171/q175/q194 and the written-once source copies
  * with their readers (q42/q43/q61/q68/q114/q118) — lives in ONE map keyed
  * `(session, dir, fingerprint(dir), key)`:
  *   - the fingerprint ([[Artifacts.fingerprint]], a stat walk) means a
  *     fixture regenerated in place in a live JVM misses and rebuilds
  *     instead of serving state derived from the old bytes (the r7
  *     incident class);
  *   - the dir keeps two fixture copies with equal fingerprints (same
  *     relative paths, sizes and mtimes) apart;
  *   - the session means a stopped session's plans never serve a new
  *     one. Uncollected, that key is a leak: a DataFrame strongly
  *     references its session, so a JVM that builds and stops many
  *     sessions (every test suite; a notebook service recycling
  *     per-tenant sessions) would pin every dead session's plan graph.
  *     Weak keys don't help — the VALUE references the key — so
  *     [[sweep]] drops every entry whose session's SparkContext has
  *     stopped, at session construction ([[Session.build]]) and on
  *     every memo MISS. The map holds at most a few hundred entries,
  *     one `isStopped` check each: microseconds against the build a
  *     miss precedes.
  *
  * Callers prefix `key` with their own namespace (`table:`, `rows:`,
  * `rowgroups:`, `artifact:`, `view:`, `dir:`, `source:`) so names never
  * collide.
  */
object Caches {

  private val memos =
    new ConcurrentHashMap[(SparkSession, String, String, String), AnyRef]()

  /** The value memoized for `key` on fixture dir `d` in session `s`,
    * built by `mk` on a miss. The hit path costs one fingerprint stat
    * walk and one map lookup. A `null` from `mk` is returned and not
    * memoized (an artifact not yet built stays a miss).
    *
    * Get-then-putIfAbsent rather than computeIfAbsent: builds re-enter
    * the memo (the typed events loader reads the raw table, an artifact
    * build reads fixture tables, a view build runs a whole query) and a
    * nested miss sweeps, i.e. removes entries of THIS map — mutating a
    * ConcurrentHashMap from inside its own computeIfAbsent is forbidden
    * and can deadlock or corrupt a bin. A lost race merely builds the
    * same value twice; the first one published wins. */
  def memo[V <: AnyRef](s: SparkSession, d: String, key: String)(mk: => V): V = {
    val k = (s, d, Artifacts.fingerprint(d), key)
    val hit = memos.get(k)
    if (hit != null) hit.asInstanceOf[V]
    else {
      sweep()
      val v = mk
      if (v == null) v
      else {
        val prev = memos.putIfAbsent(k, v)
        if (prev != null) prev.asInstanceOf[V] else v
      }
    }
  }

  /** Drop every memoized value owned by a stopped session. */
  def sweep(): Unit = memos.keySet().removeIf(_._1.sparkContext.isStopped)

  /** Entries owned by `s` (test observability — CacheHygieneSpec pins
    * stop ⇒ sweep ⇒ 0). */
  private[graft] def entriesFor(s: SparkSession): Int = {
    var n = 0
    memos.keySet().forEach(k => if (k._1 eq s) n += 1)
    n
  }
}
