package graft

import org.scalatest.funsuite.AnyFunSuite

/** Operator behavior on ADVERSARIAL corpora, not just the organic
  * fixtures: a web-scale corpus where every document shares boilerplate
  * is the workload that turns naive near-dup detection quadratic — one
  * shingle common to n docs contributes n² candidate pairs. The df-cap
  * (Dedup.DF_CAP) exists exactly for this; these tests prove it on a
  * corpus built to break an uncapped implementation.
  */
class AdversarialSpec extends AnyFunSuite {

  lazy val spark = Spec.spark
  import spark.implicits._

  /** 400 docs that ALL share an identical boilerplate prefix (every
    * boilerplate shingle has df = 400 >> DF_CAP = 50), each with unique
    * filler; docs 0/1 and 2/3 are planted near-duplicate pairs sharing
    * their unique content too. */
  private lazy val corpusDir: String = {
    val boiler = "terms of service apply to all content on this site"
    def filler(i: Int) = (0 until 12).map(j => s"u${i}w$j").mkString(" ")
    val rows = (0 until 400).map { i =>
      val uniq = i match {
        case 1 => filler(0) + " extra"   // near-dup of doc 0
        case 3 => filler(2) + " tail"    // near-dup of doc 2
        case _ => filler(i)
      }
      val text = s"$boiler $uniq"
      (i.toLong, text, "en", "webcrawl", text.length.toLong)
    }
    val dir = Spec.tmpDir("graft-adversarial").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("boilerplate-saturated corpus: exact dedup finds no false duplicates") {
    val groups = SparkEntry.queries("q29_exact_dedup")(spark, corpusDir)
    // every doc is unique byte-wise → every fingerprint group has size 1
    assert(groups.count() == 400)
    assert(groups.filter(org.apache.spark.sql.functions.col("n_dups") > 1)
      .count() == 0)
  }

  test("df-cap keeps MinHash-LSH candidates to the planted pairs") {
    // UNCAPPED, the shared boilerplate puts all 400 docs in one bucket
    // per band → ~80k candidate pairs. The cap drops df>50 shingles
    // before any pairwise work, so only the planted near-dups (which
    // share UNIQUE shingles) can collide on a full band signature.
    val pairs = SparkEntry.queries("q30_minhash_lsh")(spark, corpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(pairs == Set((0L, 1L), (2L, 3L)),
      s"expected exactly the planted pairs, got ${pairs.size}: " +
        pairs.take(10).mkString(", "))
  }

  test("n-gram Jaccard ranks only the planted pairs above zero") {
    val top = SparkEntry.queries("q32_ngram_jaccard")(spark, corpusDir)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    spark.catalog.clearCache()
    val positive = top.filter(_._2 > 0).map(_._1).toSet
    assert(positive == Set((0L, 1L), (2L, 3L)),
      s"non-planted pairs scored > 0: ${positive -- Set((0L, 1L), (2L, 3L))}")
  }

  test("prefix-filtered set-similarity join recalls exactly the brute-force pairs") {
    // the prefix theorem's exactness claim, checked against a
    // candidate-free brute force on the same capped universe: every
    // τ-passing pair must survive prefix pruning, and nothing else
    val got = SparkEntry.queries("q134_setsim_join")(spark, corpusDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(got == Set((0L, 1L), (2L, 3L)),
      s"expected exactly the planted pairs, got ${got.size}: " +
        got.take(10).mkString(", "))
  }

  test("sorted-neighborhood rank equals the naive global window") {
    // the zipWithIndex rank must equal row_number() over a global sort
    // regardless of where repartitionByRange placed its boundaries —
    // checked by recomputing the pair set with the naive (single-
    // partition) window at the fixture scale
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val names = Tables.part(spark, Spec.sfDir)
      .select(col("p_name").as("name")).distinct()
    val naive = names
      .withColumn("rk", row_number().over(Window.orderBy(col("name"))))
    val nPairs = naive.select(col("name").as("na"), col("rk").as("ra"))
      .join(naive.select(col("name").as("nb"), col("rk").as("rb")),
        col("rb") > col("ra") && col("rb") <= col("ra") + 9)
      .filter(levenshtein(col("na"), col("nb")) <= 3)
      .select(col("na"), col("nb"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = SparkEntry.queries("q135_sorted_neighborhood")(spark, Spec.sfDir)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == nPairs,
      s"SNM pairs diverge: extra=${(got -- nPairs).take(5)} " +
        s"missing=${(nPairs -- got).take(5)}")
  }

  test("repeated-passage detector flags long boilerplate at linear cost") {
    import org.apache.spark.sql.functions._
    // 300 docs sharing a 32-token boilerplate prefix (two full 16-token
    // blocks) + unique filler. The detector must (a) surface the
    // boilerplate blocks with n_docs = 300 — the q32-style df-cap
    // CANNOT be applied here, repeated content is the signal, and the
    // no-pairwise shape is what keeps 300 shared blocks costing 300
    // rows — and (b) not flag any unique-filler block.
    val boiler = (0 until 32).map(i => s"tos$i").mkString(" ")
    val rows = (0 until 300).map { i =>
      val text = s"$boiler " + (0 until 9).map(j => s"u${i}f$j").mkString(" ")
      (i.toLong, text, "en", "webcrawl", text.length.toLong)
    }
    import spark.implicits._
    val dir = Spec.tmpDir("graft-boiler").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val top = SparkEntry.queries("q102_repeated_passages")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exactly the two full boilerplate blocks, each in all 300 docs
    assert(top.length == 2, s"expected 2 passages, got ${top.length}")
    assert(top.forall { case (p, nd, no) =>
      nd == 300 && no == 300 && p.startsWith("tos") })
  }

  test("CDC chunking survives the prefix insertion that breaks fixed blocks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // doc 1 is doc 0 with ONE token inserted at the front. Fixed
    // 16-token blocks (q102) all shift and never line up; content-
    // defined boundaries re-synchronize inside the shared suffix, so
    // q124 must still surface shared chunks. Remaining docs are unique
    // filler so the planted pair is the only possible repeat.
    val base = (0 until 80).map(i => s"b$i").mkString(" ")
    val rows = Seq(
      (0L, base),
      (1L, s"inserted $base")
    ) ++ (2 until 100).map(i =>
      (i.toLong, (0 until 40).map(j => s"u${i}f$j").mkString(" ")))
    val dir = Spec.tmpDir("graft-cdc").toString
    rows.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val cdc = SparkEntry.queries("q124_cdc_chunks")(spark, dir).collect()
    assert(cdc.nonEmpty,
      "CDC found no shared chunk across the shifted copies")
    assert(cdc.forall(_.getLong(1) == 2L))
    val fixed = SparkEntry.queries("q102_repeated_passages")(spark, dir)
      .collect()
    assert(fixed.isEmpty,
      s"fixed blocking unexpectedly matched shifted content: ${fixed.toSeq}")
  }

  test("fuzzy-join length bands bound blocks under a one-noun vocabulary") {
    import org.apache.spark.sql.functions._
    // Worst case for single-key blocking: EVERY name ends in the same
    // head noun, so blk alone puts all n names in one block → n²/2
    // verifier calls. Lengths spread 10..89, so (blk, length band)
    // splits the hot block by a feature edit distance cannot cross.
    val names = (0 until 400).map { i =>
      ("x" * (10 + i % 80)) + s"$i widget"
    }.toDF("name").withColumn("blk", element_at(split(col("name"), " "), -1))
    val cand = graft.operators.Relational
      .fuzzyCandidates(names, maxDist = 6)
    // recall: candidates must cover every true dist ≤ 6 pair (the
    // brute-force cross join is the test oracle — 400² is fine HERE)
    val a = names.select(col("name").as("name_a"))
    val b = names.select(col("name").as("name_b"))
    val truth = a.crossJoin(b)
      .filter(col("name_a") < col("name_b") &&
        levenshtein(col("name_a"), col("name_b")) <= 6)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val got = cand.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(truth.subsetOf(got),
      s"lost ${truth.size - (truth & got).size} true pairs to blocking")
    // scale: the largest (blk, band-key) block holds only the names of
    // ~2 adjacent 7-char length bands, NOT all 400 — the quadratic
    // verify is bounded by (names per band)², not n²
    val bandW = 7
    val maxBlock = names
      .select(col("blk"),
        explode(array(floor(length(col("name")) / bandW).cast("int"),
          (floor(length(col("name")) / bandW) + 1).cast("int"))).as("k"))
      .groupBy(col("blk"), col("k")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    // ~5 names per distinct length × ~7 lengths per band × 2 adjacent
    // bands ≈ 70 names; 120 leaves slack for digit-length jitter while
    // still proving the 400-name block was split an order of magnitude
    assert(maxBlock <= 120,
      s"hot block not split by length bands: max block $maxBlock of 400")
  }

  test("watermark audit conserves events; close rule matches final watermark") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, Spec.sfDir)
    val audit = graft.streaming.Streams
      .watermarkAudit(ev, 21600000000L, 600000000L, 3600000000L, 10L)
      .collect()
    // conservation: every event lands in exactly one window row
    assert(audit.map(_.getAs[Long]("n_total")).sum == ev.count())
    audit.foreach { r =>
      val (t, d, k) = (r.getAs[Long]("n_total"),
        r.getAs[Long]("n_dropped"), r.getAs[Long]("n_kept"))
      assert(d >= 0 && d <= t && k == t - d, r.toString)
    }
    // the close rule is a single threshold on window start: sorted by
    // wstart, closed must be a prefix (true...true false...false) —
    // a closed window after an open one would mean the "final
    // watermark" differs between rows
    val flags = audit.sortBy(_.getAs[String]("wstart")).map(_.getAs[Boolean]("closed"))
    assert(flags.dropWhile(identity).forall(!_), "closed not a prefix")
    assert(flags.last == false, "the max-ts window cannot be closed")
  }

  test("contamination score is a [0,1] ratio over non-eval docs only") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q140_contamination_score")(
      spark, Spec.sfDir).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 97 != 0, "eval doc in report")
      val c = r.getAs[Double]("contamination")
      assert(c >= 0.0 && c <= 1.0, s"ratio out of range: $r")
      assert(r.getAs[Long]("n_overlap") <= r.getAs[Long]("n_shingles"))
    }
  }

  test("compaction bins respect the target unless one doc exceeds it") {
    import org.apache.spark.sql.functions._
    val target = 65536L
    val maxDoc = Tables.documents(spark, Spec.sfDir)
      .agg(max(col("n_chars"))).head().getLong(0)
    val bins = SparkEntry.queries("q141_compaction_plan")(spark, Spec.sfDir)
      .collect()
    bins.foreach { r =>
      // running-sum packing can overshoot by at most one document
      assert(r.getAs[Long]("total_chars") <= target + maxDoc, r.toString)
    }
    // bins are dense 0..max per source (contiguous id ranges)
    bins.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val ids = rs.map(_.getAs[Long]("bin")).sorted.toSeq
      // dense 0..max holds when no single doc exceeds the target (true
      // of the fixture); a doc bigger than the target legitimately
      // skips bin ids
      assert(ids == (0L until ids.size.toLong),
        s"$src bins not dense: ${ids.take(10)}")
    }
  }

  test("priority sample IS the top-K by w/u; est = max(w, tau)") {
    import org.apache.spark.sql.functions._
    // independent derivation of the Duffield–Lund–Thorup selection:
    // recompute every doc's frozen priority and take the top 101 by the
    // query's total order, then hold the operator to (a) sample =
    // ranks 1..100, (b) tau = the 101st priority, (c) per-item
    // estimator = max(weight, tau) — the three properties that make
    // subset-sum estimates over the sample unbiased.
    val k = 100
    val h = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 12), 16, 10)
      .cast("long")
    val all = Tables.documents(spark, Spec.sfDir)
      .select(col("doc_id"), col("n_chars").as("w"),
        (col("n_chars").cast("double") / (h + lit(1L))).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(k + 1).collect()
    val tau = all.last.getAs[Double]("priority")
    val expected = all.take(k)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("priority"))).toMap

    val got = SparkEntry.queries("q144_weighted_sample")(spark, Spec.sfDir)
      .collect()
    assert(got.length == k)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(expected.contains(id), s"doc $id not in the true top-$k")
      assert(r.getAs[Double]("priority") == expected(id))
      val est = r.getAs[Double]("est_weight")
      assert(est == math.max(r.getAs[Long]("weight").toDouble, tau),
        s"estimator broken for doc $id: $r (tau=$tau)")
    }
  }

  test("temporal join: every purchase lands in the interval containing it") {
    import org.apache.spark.sql.functions._
    // independent derivation: collect the raw event log and attribute
    // each purchase by a per-user linear scan of the COMPRESSED touch
    // change log (the q145 rule re-implemented in plain Scala) — last
    // change with t_change <= t wins, which on zero-length intervals
    // (two changes at one timestamp) is exactly the half-open
    // [from, to) containment the join predicate encodes.
    val ev = Tables.events(spark, Spec.sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val touches = ev.filter(e => e._3 == "view" || e._3 == "click")
      .groupBy(_._2).map { case (u, es) =>
        val changes = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, Long)] // (state, t, version)
        var prev: String = null
        es.sortBy(e => (e._4, e._1)).foreach { e =>
          if (prev == null || e._3 != prev) {
            changes += ((e._3, e._4, changes.size + 1L)); prev = e._3
          }
        }
        u -> changes.toVector
      }
    val got = SparkEntry.queries("q146_temporal_join")(spark, Spec.sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))).toMap
    val purchases = ev.filter(_._3 == "purchase")
    assert(purchases.nonEmpty && got.size == purchases.length)
    purchases.foreach { case (eid, u, _, t) =>
      val chs = touches.getOrElse(u, Vector.empty)
      val idx = chs.lastIndexWhere(_._2 <= t)
      val expected =
        if (idx < 0) (None, None)
        else (Some(chs(idx)._1), Some(chs(idx)._3))
      val (gu, gt, gs, gv) = got(eid)
      assert(gu == u && gt == t, s"purchase $eid misjoined")
      assert((gs, gv) == expected, s"purchase $eid attributed to $gs/$gv, " +
        s"expected $expected")
    }
  }

  test("token budget apportionment: exact sum, quantized quotas") {
    // the three Hamilton properties, held against an independent Scala
    // derivation from the raw per-source token masses: (a) quotas sum
    // EXACTLY to the budget, (b) every quota is base or base+1 with
    // base = floor(B*n/T), (c) the +1s go to the largest remainders,
    // ties by source name.
    val budget = 1000000L
    val got = SparkEntry.queries("q148_token_budget")(spark, Spec.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val total = got.map(_._2).sum
    assert(got.map(_._4).sum == budget, "quotas do not sum to the budget")
    val extras = got.map { case (src, n, base, quota) =>
      assert(base == budget * n / total, s"$src base quota wrong")
      assert(quota == base || quota == base + 1, s"$src quota not quantized")
      (src, budget * n % total, quota - base)
    }
    val leftover = budget - got.map(_._3).sum
    val expectExtra = extras.sortBy { case (src, rem, _) => (-rem, src) }
      .take(leftover.toInt).map(_._1).toSet
    extras.foreach { case (src, _, e) =>
      assert((e == 1L) == expectExtra(src),
        s"$src extra-unit assignment violates largest-remainder order")
    }
  }

  test("MAD outliers match a driver-side robust-statistics derivation") {
    // plain-Scala percentile_disc (smallest value at cumulative
    // fraction >= 0.5) over the collected corpus, then the same
    // 2-MAD gate — the flagged doc set must match exactly, stats
    // included.
    def disc(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((xs.size - 1) / 2) // ceil(n/2)-th value, 1-indexed
    }
    val docs = Tables.documents(spark, Spec.sfDir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      val med = disc(ds.map(_._3).toSeq)
      val mad = disc(ds.map(d => math.abs(d._3 - med)).toSeq)
      ds.filter(d => math.abs(d._3 - med) > 2 * mad)
        .map(d => d._1 -> ((src, d._3, med, mad)))
    }.toMap
    val got = SparkEntry.queries("q149_mad_outliers")(spark, Spec.sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(got == expected,
      s"flag-set mismatch: missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")
  }

  test("KMV estimates land within 3-sigma of the exact cardinalities") {
    import org.apache.spark.sql.functions._
    // the determinism half of q150 is pinned by the DuckDB oracle; this
    // is the ACCURACY half — a deterministic-but-wrong estimator (e.g.
    // an off-by-one in the k-th minimum) would still hash-match, so the
    // estimates are held to the Beyer et al. error bound against exact
    // distinct counts: rel stderr = 1/sqrt(k-1) ~ 6.3% at k=256, 3
    // sigma ~ 19%, asserted at 25% for slack.
    val oKeys = Tables.orders(spark, Spec.sfDir)
      .select(col("o_orderkey")).distinct().count().toDouble
    val lKeys = Tables.lineitem(spark, Spec.sfDir)
      .select(col("l_orderkey")).distinct().count().toDouble
    val inter = Tables.orders(spark, Spec.sfDir)
      .select(col("o_orderkey").as("k")).distinct()
      .join(Tables.lineitem(spark, Spec.sfDir)
        .select(col("l_orderkey").as("k")).distinct(), "k")
      .count().toDouble
    val union = oKeys + lKeys - inter
    val r = SparkEntry.queries("q150_kmv_join_estimate")(spark, Spec.sfDir)
      .head()
    def ok(est: Double, exact: Double, what: String): Unit =
      assert(math.abs(est - exact) <= 0.25 * exact,
        s"$what estimate $est vs exact $exact is outside 25%")
    ok(r.getAs[Double]("est_orders_keys"), oKeys, "orders NDV")
    ok(r.getAs[Double]("est_lineitem_keys"), lKeys, "lineitem-key NDV")
    ok(r.getAs[Double]("est_union_keys"), union, "union NDV")
    val jExact = inter / union
    assert(math.abs(r.getAs[Double]("jaccard") - jExact) <= 0.15,
      s"jaccard ${r.getAs[Double]("jaccard")} vs exact $jExact")
  }

  test("zone maps on the sorted layout prune; on the natural layout they don't") {
    // the economic claim behind q151 (and the reason q131's z-order
    // exists at all), held at sf0.1 where lineitem spans 10 bins: the
    // shipdate-sorted layout must let the 12 probe windows skip most
    // bin-window pairs, the insertion-order layout almost none — and
    // a bin is never pruned by a window it actually overlaps (checked
    // implicitly: pruned <= pairs - windows' own bins).
    val rows = SparkEntry.queries("q151_zonemap_prune")(
        spark, "/root/testdata/sf0.1")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byLayout = rows.groupBy(_._1)
      .map { case (l, rs) => l -> (rs.map(_._3).sum, rs.map(_._4).sum) }
    val (natPairs, natPruned) = byLayout("natural")
    val (shpPairs, shpPruned) = byLayout("shipdate")
    assert(natPairs == shpPairs)
    assert(shpPruned > natPruned,
      s"sorted layout prunes no better: $shpPruned vs $natPruned")
    assert(shpPruned >= natPairs / 2,
      s"sorted layout prunes only $shpPruned of $natPairs bin-window pairs")
  }

  test("consistent sharding: bounded movement, only toward the new shard") {
    // the two properties that justify the ring over doc_id % N: adding
    // shard 17 moves a bounded minority (expected 1/17; asserted
    // generously) and NEVER moves a doc between two old shards
    val rows = SparkEntry.queries("q159_consistent_sharding")(
        spark, Spec.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(rows.map(_._1).toSet == (0L until 16L).toSet)
    assert(rows.map(_._4).sum == 0L,
      "a doc moved between two OLD shards — the ring is broken")
    val (total, moved) = (rows.map(_._2).sum, rows.map(_._3).sum)
    assert(moved > 0 && moved.toDouble / total < 0.2,
      s"moved $moved of $total — expected ~1/17")
  }

  test("systematic epoch sample: exact K, multiplicity tracks weight") {
    import org.apache.spark.sql.functions._
    // the fixture's near-uniform weights only ever exercise
    // multiplicity = 1; a skewed corpus (one doc carrying ~90% of the
    // mass) must reproduce a driver-side systematic sample EXACTLY —
    // including the heavy doc appearing ~weight/stride times — and the
    // multiplicities must sum to K with zero variance.
    val rows = (0 until 50).map { i =>
      val n = if (i == 25) 5000L else 10L
      (i.toLong, "x " * 5, "en", "web", n)
    }
    val dir = Spec.tmpDir("graft-epoch").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val k = 100
    val w = rows.map(_._5)
    val tot = w.sum
    val stride = tot / k
    val off = stride / 2
    var cum = 0L
    val expected = rows.map { case (id, _, _, _, wt) =>
      val prev = cum; cum += wt
      val below = (x: Long) =>
        math.min((x - off - 1 + 2 * stride) / stride - 1, k.toLong)
      id -> (below(cum) - below(prev))
    }.filter(_._2 >= 1).toMap
    val got = SparkEntry.queries("q158_epoch_sample")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expected,
      s"sample mismatch: missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")
    assert(got.values.sum == k, s"multiplicities sum to ${got.values.sum}")
    assert(got(25L) >= 80, s"heavy doc multiplicity ${got(25L)} — skew lost")
  }

  test("attrition funnel reconciles with the survivors and the corpus") {
    import org.apache.spark.sql.functions._
    // the accounting identities a release report lives on: every doc
    // lands in exactly one mask bucket (sum == corpus size), the
    // mask-0 bucket IS the q62 survivor count, and first_fail is the
    // lowest set bit of its mask
    val rows = SparkEntry.queries("q157_filter_attrition")(spark, Spec.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val total = Tables.documents(spark, Spec.sfDir).count()
    assert(rows.map(_._3).sum == total,
      s"masks sum to ${rows.map(_._3).sum}, corpus has $total")
    val kept = rows.filter(_._1 == 0L).map(_._3).sum
    val survivors =
      SparkEntry.queries("q62_corpus_curation")(spark, Spec.sfDir).count()
    assert(kept == survivors, s"mask-0 $kept != q62 survivors $survivors")
    rows.foreach { case (mask, ff, _) =>
      val expect =
        if (mask == 0) "kept"
        else Seq("dup", "lang", "length", "quality")(
          java.lang.Long.numberOfTrailingZeros(mask))
      assert(ff == expect, s"mask $mask labeled $ff")
    }
  }

  test("z-order prunes on both dims where single-column sort cannot") {
    // the q161 experiment's economic claim at sf0.1 (10+ bins): the
    // x-sort dominates on x-probes but is worthless on y; the Morton
    // layout gives up some x-pruning to prune substantially on BOTH —
    // and its two-dim total must beat the single-column layout's
    val rows = SparkEntry.queries("q161_zorder_prune")(
        spark, "/root/testdata/sf0.1")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(4)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(rows(("natural", "x")) == 0 && rows(("natural", "y")) == 0)
    assert(rows(("x_sorted", "x")) > rows(("z_order", "x")),
      "x-sort should dominate on its own dim")
    assert(rows(("x_sorted", "y")) == 0, "x-sort cannot prune y-probes")
    assert(rows(("z_order", "y")) > 0 && rows(("z_order", "x")) > 0,
      "z-order must prune on BOTH dims")
    val zTotal = rows(("z_order", "x")) + rows(("z_order", "y"))
    val xTotal = rows(("x_sorted", "x")) + rows(("x_sorted", "y"))
    assert(zTotal > xTotal, s"z-order total $zTotal <= x-sort total $xTotal")
  }

  test("merged partial states equal the direct whole-table aggregate") {
    import org.apache.spark.sql.functions._
    // q152's DuckDB oracle proves merge-of-parts == aggregate-of-whole
    // cross-engine; this pins the same identity INSIDE Spark (runs in
    // sbt test where the oracle can't), value-exact including the
    // decimal-summed doubles.
    val direct = Tables.events(spark, Spec.sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        min(expr("unix_micros(ts)")).as("min_t"),
        max(expr("unix_micros(ts)")).as("max_t"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))).toMap
    val merged = SparkEntry.queries("q152_incremental_stats")(spark, Spec.sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(merged == direct)
  }

  test("substring keep-one retains exactly the (min doc_id, min s) owner") {
    import org.apache.spark.sql.functions._
    // W = 12 (the q198 detector width). One 12-token span shared by
    // three docs, with the owner doc carrying a SECOND copy of it:
    // keep-one must cut the non-owner occurrences (incl. the owner
    // doc's own later copy) and leave the (min doc_id, min s)
    // occurrence verbatim — while remove-all (q199) cuts every copy.
    val shared = (0 until 12).map(i => s"s$i").mkString(" ")
    def fill(c: Char) = (0 until 12).map(i => s"$c$i").mkString(" ")
    val rows = Seq(
      (10L, s"$shared ${fill('a')} $shared"), // owner @0, own dup @24
      (20L, s"${fill('b')} $shared"),         // non-owner @12
      (30L, s"$shared ${fill('c')}"),         // non-owner @0
      (40L, fill('d'))                        // untouched bystander
    ).map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
    val dir = Spec.tmpDir("graft-keepone").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val keep = SparkEntry.queries("q200_substring_keep_one")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    // all three sharers lose SOMETHING (doc 10 its second copy), the
    // bystander is absent, and the owner occurrence survives verbatim
    assert(keep.keySet == Set(10L, 20L, 30L), s"rewrote ${keep.keySet}")
    assert(keep(10L) == ((24L, s"$shared ${fill('a')}")),
      s"owner doc kept ${keep(10L)}")
    assert(keep(20L) == ((12L, fill('b'))))
    assert(keep(30L) == ((12L, fill('c'))))
    // remove-all on the same corpus: every copy gone, same doc set
    val scrub = SparkEntry.queries("q199_substring_scrub")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(scrub.keySet == Set(10L, 20L, 30L))
    assert(scrub(10L) == fill('a') && scrub(20L) == fill('b') &&
      scrub(30L) == fill('c'))
    // corpus-wide invariant: keep-one retains >= remove-all everywhere
    scrub.keySet.foreach { id =>
      assert(keep(id)._1 >= scrub(id).split(" ").filter(_.nonEmpty).length)
    }
  }
}
