package graft.tools

import graft.{Caches, Graft, Session, SparkEntry, Tables}

/** Session-lifecycle cache-hygiene drill, spawned by CacheHygieneSpec
  * in its own JVM: the scenario stops a SparkContext, which the shared
  * test JVM cannot do without killing every later suite's session.
  *
  * Scenario (the sequential-session service shape — build, work, stop,
  * build the next): session A populates every kind of [[Caches.memo]]
  * entry ([[Tables]] loaders and footer counts, [[Graft]] view plans,
  * [[graft.Artifacts]] readers, a query's written-once scratch dir and
  * source copy) and stops; session B's construction sweeps; A's entries
  * must be gone — otherwise every recycled session pins its whole plan
  * graph (which strongly references the dead session) for the JVM
  * lifetime. Prints `CACHEDRILL result=OK` and exits 0 on success. */
object CacheDrill {
  def main(args: Array[String]): Unit = {
    // fixture dir arrives as argv(0) from CacheHygieneSpec (Spec.sfDir)
    // so the spec and drill cannot drift; the fallback only serves
    // running the drill by hand.
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val a = Session.build("local[2]", 2, "graft-cachedrill-a")
    a.sparkContext.setLogLevel("WARN")
    Graft.registerAll(a, sf) // fixture loaders + memoized view plans
    val views = Caches.entriesFor(a)
    require(views > 0, s"drill expects populated caches, got $views")
    Tables.rowCount(a, sf, "region") // a footer count, no table plan
    val counted = Caches.entriesFor(a)
    require(counted > views, "rowCount must memoize per session")
    SparkEntry.queries("q171_binary_source")(a, sf).count() // written-once dir
    val blobs = Caches.entriesFor(a)
    require(blobs > counted, "q171's blob dir must memoize per session")
    SparkEntry.queries("q42_csv_source")(a, sf) // written-once source copy
    val before = Caches.entriesFor(a)
    require(before > blobs, "q42's CSV copy must memoize per session")
    a.stop()
    // nothing has swept yet — entries linger until the next boundary
    require(Caches.entriesFor(a) == before,
      "entries must persist until a sweep boundary")
    val b = Session.build("local[2]", 2, "graft-cachedrill-b") // sweeps
    b.sparkContext.setLogLevel("WARN")
    val after = Caches.entriesFor(a)
    require(after == 0, s"stopped session still owns $after cached plans")
    // ...and the caches serve the successor session normally
    require(Tables.documents(b, sf).count() > 0, "session B must work")
    require(Caches.entriesFor(b) > 0, "session B must repopulate")
    b.stop()
    println("CACHEDRILL result=OK")
  }
}
