package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk-materialized derived tables — the engine's lakehouse layer.
  *
  * The heavy dedup/similarity family shares a chain of derived tables
  * (df-capped shingle index → MinHash signature table → banded-LSH
  * candidate pairs; SimHash fingerprints alongside), and SEVEN queries
  * consume them (q30/q32/q49/q57/q91/q134/q147/q156 + q69). Rebuilding
  * that chain inside every consumer is exactly what a production
  * pipeline never does: at 100 TB the shingle scan alone is a
  * multi-hour job, while the signature table is ~one narrow row per
  * document and the candidate pair list is smaller still. The standard
  * architecture materializes the chain ONCE per corpus snapshot (as
  * Delta/Iceberg tables in a real deployment; plain parquet here) and
  * lets every consumer start from the materialized artifact — which is
  * also what keeps the per-query cost of the graph family (components,
  * k-core, BFS radius, PageRank) proportional to the GRAPH, not to the
  * corpus.
  *
  * Correctness contract: an artifact is a pure function of the fixture
  * directory's bytes, so artifacts are keyed by a content fingerprint
  * (relative path + size + mtime of every file under the fixture dir).
  * Regenerating a fixture in place — same path, new bytes — changes the
  * fingerprint and orphans the stale artifact; nothing can serve stale
  * derived data (the r7 fixture-regeneration incident class). The
  * DuckDB oracle never sees artifacts: it recomputes every derivation
  * from the raw tables, so the per-query hash gate also certifies the
  * materialization layer.
  *
  * Builds are atomic: written to a sibling temp dir, `ATOMIC_MOVE`d
  * into place, and only ever read through the final path — concurrent
  * builders in other threads/JVMs race benignly (one rename wins, the
  * loser deletes its temp and reads the winner's output).
  */
object Artifacts {

  /** The artifact root for fixture `d`. A fixture under the engine's
    * scratch root (a spec's temp fixture) keeps its trees there too, so
    * the JVM-exit hook deletes them with it; any other fixture uses the
    * shared root. */
  private def rootOf(d: String): Path = {
    val scratch = sources.FileFormats.scratchRoot
    if (Paths.get(d).toAbsolutePath.normalize.startsWith(scratch))
      scratch.resolve("graft-artifacts")
    else Paths.get(sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_DIR",
      System.getProperty("java.io.tmpdir") + "/graft-artifacts"))
  }

  /** Content fingerprint of a fixture dir: sha-256 over the sorted
    * (relative path, size, mtime-millis) triples of every regular file
    * beneath it, truncated to 16 hex chars. A pure stat walk — no file
    * reads — so callers can afford to re-check it on every access,
    * which is what makes in-place fixture regeneration safe. */
  def fingerprint(dir: String): String = {
    val base = Paths.get(dir)
    val md = MessageDigest.getInstance("SHA-256")
    val stream = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map { p =>
          val a = Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          s"${base.relativize(p)}:${a.size}:${a.lastModifiedTime.toMillis}"
        }
        .toSeq.sorted
        .foreach(s => md.update(s.getBytes("UTF-8")))
    } finally stream.close()
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Per-path build locks (JVM-local; cross-JVM races resolve at the
    * atomic rename). */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Monotone count of artifacts this JVM actually MATERIALIZED (ran
    * the build job and renamed a tree into place) — not cache reads.
    * Bench snapshots it around each chain warm-up so the artifact
    * carries a per-chain built-vs-reread answer instead of one
    * whole-tree guess. */
  private[graft] val buildCount =
    new java.util.concurrent.atomic.AtomicLong()

  private def slugOf(d: String): String = {
    // The readable sanitization alone is NOT injective: fixture paths
    // differing only in non-[A-Za-z0-9._-] characters ("/data/sf 1" vs
    // "/data/sf_1") would collapse to one slug, and [[reapStale]] —
    // which matches superseded trees BY SLUG — could then reap the
    // other live fixture's current tree (its fingerprint differs from
    // this fixture's). A short hash of the RAW path keeps slugs
    // per-fixture while the readable prefix keeps the tree browsable.
    val readable = d.replaceAll("[^A-Za-z0-9._-]+", "_").replaceAll("^_+", "")
    val pathHash = MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(3).map(b => f"$b%02x").mkString
    s"$readable.$pathHash"
  }

  /** The artifact tree for fixture `d` at its CURRENT fingerprint
    * (test observability — FixturesSpec pins the retention GC). */
  private[graft] def dirOf(d: String): Path =
    rootOf(d).resolve(s"${slugOf(d)}-${fingerprint(d)}")

  private def pathOf(d: String, name: String): Path = dirOf(d).resolve(name)

  /** The artifact if (and only if) it is already materialized for the
    * CURRENT fixture fingerprint — never builds, never runs a job. View
    * registration uses this to stay job-free: present → the view reads
    * the artifact; absent → the caller falls back to a lazy derivation
    * plan. Its reader plan is memoized under the same key as
    * [[derived]]'s. */
  def existing(s: SparkSession, d: String, name: String): Option[DataFrame] =
    Option(Caches.memo(s, d, s"artifact:$name") {
      val path = pathOf(d, name)
      if (Files.exists(path)) s.read.parquet(path.toString) else null
    })

  /** The artifact named `name` derived from fixture `d`: read it if the
    * current fixture fingerprint already has it, otherwise run `build`
    * and materialize it first. `name` must embed every derivation
    * parameter that is not a function of the fixture bytes (e.g. the
    * LSH band-row count rides in the name so a corpus-count-driven
    * layout change can never alias). */
  def derived(s: SparkSession, d: String, name: String)
             (build: => DataFrame): DataFrame =
    Caches.memo(s, d, s"artifact:$name") {
      val path = pathOf(d, name)
      val dir = path.getParent
      val lock = locks.computeIfAbsent(path.toString, _ => new Object)
      lock.synchronized {
        if (!Files.exists(path)) {
          Files.createDirectories(dir)
          val tmp = dir.resolve(
            s"$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
          build.write.parquet(tmp.toString)
          try {
            Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
            // count only AFTER the move: a builder that loses the publish
            // race below did not "materialize and rename a tree into
            // place", and the bench *_built counts must match that
            // documented semantics exactly
            buildCount.incrementAndGet()
          } catch {
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.AccessDeniedException =>
              // another JVM won the race; its artifact is byte-equivalent
              deleteRecursively(tmp)
          }
          reapStale(d)
        }
      }
      s.read.parquet(path.toString)
    }

  /** Retention GC: delete SUPERSEDED artifact trees of fixture `d` —
    * sibling directories under the artifact root carrying `d`'s slug
    * but a fingerprint other than the current one, last modified more
    * than the TTL ago (default 24 h; `graft.artifacts.ttlMillis`
    * overrides for tests). Without this, every in-place fixture
    * regeneration orphans the previous fingerprint's whole tree
    * forever. Runs only on a build miss (an artifact was just
    * materialized — the moment the set of live trees changed).
    *
    * Concurrent-reader safety: readers never hold an artifact
    * DIRECTORY handle across queries — every access re-resolves
    * [[pathOf]] under the CURRENT fixture fingerprint, so a reaped
    * tree is only reachable from a plan built against a fingerprint
    * that the fixture bytes no longer have. Such a reader raced an
    * in-place regeneration and is stale by construction (the exact
    * incident class the fingerprint keying exists to kill); the TTL
    * additionally keeps any PLAUSIBLE in-flight query — hours, not
    * days — out of reach. One rename-then-delete pass per tree: the
    * tree is first atomically moved aside to a `.reap-*` temp name, so
    * a partially deleted tree can never be mistaken for a live
    * artifact by a concurrent `existing()` probe. */
  private def reapStale(d: String): Unit = try {
    val ttlMs = sys.props.get("graft.artifacts.ttlMillis").map(_.toLong)
      .getOrElse(24L * 3600 * 1000)
    val slug = slugOf(d)
    val current = s"$slug-${fingerprint(d)}"
    val cutoff = System.currentTimeMillis() - ttlMs
    val siblings = Files.list(rootOf(d))
    try {
      import scala.jdk.CollectionConverters._
      siblings.iterator().asScala
        .filter(p => Files.isDirectory(p))
        .filter { p =>
          val n = p.getFileName.toString
          // `.reap-*` siblings are move-aside temps whose deleting JVM
          // died mid-reap (their mtime is refreshed at move-aside, so a
          // TTL-old one is genuinely orphaned, not in-flight); without
          // this clause they never match the slug filter again and leak
          // forever — the exact orphan class this GC exists to
          // eliminate.
          n.startsWith(".reap-") ||
            (n != current && n.startsWith(s"$slug-") &&
              n.stripPrefix(s"$slug-").matches("[0-9a-f]{16}"))
        }
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .toSeq
        .foreach { p =>
          val n = p.getFileName.toString
          try {
            if (n.startsWith(".reap-")) deleteRecursively(p)
            else {
              val aside = p.resolveSibling(
                s".reap-$n-${java.util.UUID.randomUUID().toString.take(8)}")
              Files.move(p, aside, StandardCopyOption.ATOMIC_MOVE)
              // refresh the aside's mtime: ATOMIC_MOVE preserves the
              // stale tree's (already-past-cutoff) timestamp, and a
              // concurrent sweep must see this temp as IN-FLIGHT, not
              // as a TTL-old orphan it can race deleteRecursively on
              Files.setLastModifiedTime(aside,
                java.nio.file.attribute.FileTime.fromMillis(
                  System.currentTimeMillis()))
              deleteRecursively(aside)
            }
          } catch { case scala.util.control.NonFatal(_) => () }
        }
    } finally siblings.close()
  } catch { case scala.util.control.NonFatal(_) => () }

  private def deleteRecursively(p: Path): Unit = {
    val stream = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    } finally stream.close()
  }
}
