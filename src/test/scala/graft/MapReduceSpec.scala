package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.MapReduce

/** Reference-parity semantics (SURVEY §2.B, §5 layer 3): word count with
  * `tr`-style tokenization (empty tokens counted), grep, executable
  * pipelines, MD5 partition routing, and `part-%05d` sink layout.
  */
class MapReduceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Spec.spark

  private def mkCorpus(lines: Seq[Seq[String]]): String = {
    val dir = Spec.tmpDir("graft-corpus")
    lines.zipWithIndex.foreach { case (ls, i) =>
      Files.write(dir.resolve(f"file$i%02d"),
        ls.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    dir.toString
  }

  // the classic reference corpus plus a leading-space line that produces
  // an empty token under tr-tokenization (FIXTURES.md §A1) and a
  // bracket line: the reference's `tr '[ \t]' '\n'` SET1 is the four
  // characters `[`, space, tab, `]`, so brackets split tokens too
  private lazy val corpus = mkCorpus(Seq(
    Seq("Hello World Bye World"),
    Seq("Hello Hadoop Goodbye Hadoop", " hello"),
    Seq("Bye[World] Bye")))

  // wcMapTr tokens: ''×2, bye×3, goodbye, hadoop×2, hello×3, world×3
  private val wcExpected = Seq("\t2", "bye\t3", "goodbye\t1",
    "hadoop\t2", "hello\t3", "world\t3")

  private def readParts(dir: String): Seq[(String, Seq[String])] = {
    val d = Paths.get(dir)
    Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
      .map { p =>
        val content = new String(Files.readAllBytes(p), "UTF-8")
        p.getFileName.toString ->
          content.split("\n", -1).toSeq.filter(_.nonEmpty)
      }.toSeq
  }

  test("word count matches reference semantics incl. empty-token and bracket keys") {
    val out = Spec.tmpDir("graft-wc").toString + "/out"
    MapReduce.wordCount(spark, corpus, out, numReducers = 2)
    val parts = readParts(out)
    assert(parts.map(_._1) == Seq("part-00000", "part-00001"))
    assert(parts.flatMap(_._2).sorted == wcExpected.sorted)
    // each part file must be internally key-sorted (test_worker_08 contract)
    parts.foreach { case (_, lines) => assert(lines == lines.sorted) }
  }

  test("wc_map.py semantics (B2): whitespace runs, empties dropped, case kept") {
    import spark.implicits._
    val kv = MapReduce.wcMapPy(Seq("Hello  hello\tB", " x ").toDS())
    val got = kv.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(got == Seq(("B", "1"), ("Hello", "1"), ("hello", "1"), ("x", "1")))
  }

  test("wc_reduce.sh semantics (B3): count per key equals sum-of-ones") {
    import spark.implicits._
    val kv = Seq(("a", "1"), ("a", "1"), ("b", "1")).toDF("key", "value")
    val got = MapReduce.reduceCount(kv).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    assert(got == Seq(("a", "2"), ("b", "1")))
  }

  test("grep filters case-insensitively and drops blank lines") {
    val dir = mkCorpus(Seq(Seq("a Product line", "", "no match", "PRODUCT!")))
    val out = Spec.tmpDir("graft-grep").toString + "/out"
    MapReduce.grep(spark, dir, out, query = "product", numReducers = 1)
    val all = readParts(out).flatMap(_._2)
    assert(all == Seq("PRODUCT!", "a Product line"))
  }

  test("executable pipeline job (runPipe) reproduces word count byte-for-byte") {
    val out = Spec.tmpDir("graft-pipe").toString + "/out"
    MapReduce.runPipe(spark, corpus, out,
      // the reference's wc_map.sh / wc_reduce.sh pipelines VERBATIM
      // (tests/testdata/exec/wc_map.sh:13, wc_reduce.sh:14)
      mapCmd = """tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'""",
      reduceCmd = """cut -f1 | uniq -c | awk '{print $2"\t"$1}'""",
      numReducers = 2, numMappers = Some(2))
    val parts = readParts(out)
    assert(parts.map(_._1) == Seq("part-00000", "part-00001"))
    assert(parts.flatMap(_._2).sorted == wcExpected.sorted)
    // MD5 routing: '', hello, bye → partition 0; world, hadoop, goodbye → 1
    assert(parts.head._2.map(_.split("\t")(0)).toSet == Set("", "hello", "bye"))
    assert(parts(1)._2.map(l => l.split("\t")(0)).toSet ==
      Set("world", "hadoop", "goodbye"))
  }

  test("pipeReduce under run sees a key-sorted stream per partition") {
    val out = Spec.tmpDir("graft-pipered").toString + "/out"
    // uniq -c counts runs of equal keys: right only on key-sorted input
    MapReduce.run(spark, corpus, out, MapReduce.wcMapTr,
      MapReduce.pipeReduce("""cut -f1 | uniq -c | awk '{print $2"\t"$1}'"""),
      numReducers = 2)
    assert(readParts(out).flatMap(_._2).sorted == wcExpected.sorted)
  }

  test("runPipe keeps the TRUE partition index when earlier partitions are empty") {
    val dir = mkCorpus(Seq(Seq("solo")))
    val out = Spec.tmpDir("graft-solo").toString + "/out"
    MapReduce.runPipe(spark, dir, out,
      mapCmd = """tr '[ \t]' '\n' | tr '[:upper:]' '[:lower:]' | awk '{print $1"\t1"}'""",
      reduceCmd = """cut -f1 | uniq -c | awk '{print $2"\t"$1}'""",
      numReducers = 4)
    val expectIdx = new MapReduce.Md5Partitioner(4).getPartition("solo")
    val parts = readParts(out)
    assert(parts.map(_._1) == (0 until 4).map(i => f"part-$i%05d"))
    parts.zipWithIndex.foreach { case ((_, lines), i) =>
      assert(lines == (if (i == expectIdx) Seq("solo\t1") else Seq.empty),
        s"partition $i (expected data only in $expectIdx)")
    }
  }

  test("Md5Partitioner matches the reference's int(md5(key),16) % R") {
    val p4 = new MapReduce.Md5Partitioner(4)
    // expected values computed with Python hashlib (the reference's hash,
    // worker/__main__.py:62-65)
    assert(p4.getPartition("") == 2)
    assert(p4.getPartition("hello") == 2)
    assert(p4.getPartition("world") == 3)
    assert(p4.getPartition("bye") == 0)
    assert(p4.getPartition("hadoop") == 1)
    assert(p4.getPartition("goodbye") == 1)
  }

  test("empty partitions still produce empty part files (exactly R outputs)") {
    val dir = mkCorpus(Seq(Seq("solo")))
    val out = Spec.tmpDir("graft-empty").toString + "/out"
    MapReduce.wordCount(spark, dir, out, numReducers = 4)
    val parts = readParts(out)
    assert(parts.map(_._1) ==
      (0 until 4).map(i => f"part-$i%05d"))
    assert(parts.flatMap(_._2) == Seq("solo\t1"))
  }

  test("sink overwrites pre-existing output (delete + recreate)") {
    val dir = mkCorpus(Seq(Seq("x y")))
    val out = Spec.tmpDir("graft-ow").toString + "/out"
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "stale"), "junk".getBytes)
    MapReduce.wordCount(spark, dir, out, numReducers = 1)
    assert(!Files.exists(Paths.get(out, "stale")))
    assert(readParts(out).flatMap(_._2) == Seq("x\t1", "y\t1"))
  }

  test("runPipe sorts each reducer stream by UTF-8 bytes, like sort(1)") {
    // UTF-16 order puts U+1F600 (a surrogate pair, 0xD83D...) before
    // U+FFFD; byte order (EF BF BD < F0 9F 98 80) puts U+FFFD first
    val dir = mkCorpus(Seq(Seq("\uD83D\uDE00\t1", "\uFFFD\t1")))
    val out = Spec.tmpDir("graft-bytes").toString + "/out"
    MapReduce.runPipe(spark, dir, out, mapCmd = "cat", reduceCmd = "cat",
      numReducers = 1)
    assert(readParts(out) ==
      Seq("part-00000" -> Seq("\uFFFD\t1", "\uD83D\uDE00\t1")))
  }

  private def listing(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .toSeq.sorted finally s.close()
  }

  test("a retried attempt of one reduce task leaves one part file, same bytes, no attempt file") {
    val staging = Spec.tmpDir("graft-attempt")
    // a null line is written as an empty one, as Spark's text sink does
    def attempt(id: Long): Array[Byte] = {
      MapReduce.writePart(staging.toString, 3, id,
        Iterator("\u00e9\t1", "", null).map(UTF8String.fromString))
      Files.readAllBytes(staging.resolve("part-00003"))
    }
    val first = attempt(7)
    val second = attempt(8)
    assert(listing(staging) == Seq("part-00003"))
    assert(first.toSeq == "\u00e9\t1\n\n\n".getBytes("UTF-8").toSeq)
    assert(second.toSeq == first.toSeq)
  }

  test("the writer replaces an existing output dir whole") {
    val dir = mkCorpus(Seq(Seq("x y")))
    val out = Paths.get(Spec.tmpDir("graft-replace").toString, "out")
    Files.createDirectories(out.resolve("sub"))
    Files.write(out.resolve("part-00009"), "stale\n".getBytes)
    Files.write(out.resolve("sub").resolve("stray"), "junk".getBytes)
    MapReduce.wordCount(spark, dir, out.toString, numReducers = 2)
    assert(listing(out) == Seq("part-00000", "part-00001"))
    assert(listing(out.getParent) == Seq("out"), "staging dir left behind")
    assert(readParts(out.toString).flatMap(_._2).sorted == Seq("x\t1", "y\t1"))
  }

  test("a routed frame whose partition count is not R fails before the old output is touched") {
    val out = Paths.get(Spec.tmpDir("graft-count").toString, "out")
    Files.createDirectories(out)
    Files.write(out.resolve("part-00000"), "old\n".getBytes)
    val lines = spark.range(6).repartition(3)
      .select(col("id").cast("string").as("line"))
    val e = intercept[IllegalArgumentException] {
      MapReduce.writePartFiles(lines, out.toString, 4)
    }
    assert(e.getMessage.contains("3 partitions") &&
      e.getMessage.contains("numReducers = 4"), e.getMessage)
    assert(listing(out) == Seq("part-00000"))
    assert(new String(Files.readAllBytes(out.resolve("part-00000"))) == "old\n")
  }

  test("run and runPipe write exact UTF-8 bytes: non-ASCII, empty key, CR in a value") {
    val dir = mkCorpus(Seq(Seq("|empty key", "\u00e9|\u00fc~x", "\u65e5\u672c|\u8a9e")))
    def part0(out: String) = Files.readAllBytes(Paths.get(out, "part-00000")).toSeq
    // key before the `|`, value after it with `~` turned into CR
    val split: MapReduce.Mapper = ls => ls.select(
      substring_index(col("value"), "|", 1).as("key"),
      translate(substring_index(col("value"), "|", -1), "~", "\r").as("value"))
    val runOut = Spec.tmpDir("graft-utf8").toString + "/out"
    MapReduce.run(spark, dir, runOut, split, kv => kv, numReducers = 1)
    assert(part0(runOut) ==
      "\tempty key\n\u00e9\t\u00fc\rx\n\u65e5\u672c\t\u8a9e\n".getBytes("UTF-8").toSeq)
    // the reducer emits the CR; RDD.pipe reads its stdout as lines and
    // ends a line at a lone CR, so the value arrives split in two
    val pipeOut = Spec.tmpDir("graft-utf8").toString + "/out"
    MapReduce.runPipe(spark, dir, pipeOut, mapCmd = "tr '|' '\\t'",
      reduceCmd = "tr '~' '\\r'", numReducers = 1)
    assert(part0(pipeOut) ==
      "\tempty key\n\u00e9\t\u00fc\nx\n\u65e5\u672c\t\u8a9e\n".getBytes("UTF-8").toSeq)
  }

  // 240 distinct words: enough that every one of 4 buckets gets keys
  private lazy val manyKeys = mkCorpus((0 until 4).map(f =>
    (0 until 60).map(i => s"w${f * 60 + i} common")))

  private val aqe = new AdaptiveSparkPlanHelper {}
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.write.format("noop").mode("overwrite").save()
    aqe.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
  }

  test("wordCount routes every key to part pmod(hash(key), R), all R parts used") {
    // shuffle partitions == R (4) is the case where a plain repartition
    // on the aggregate's key was dropped and AQE coalesced to one part
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val out = Spec.tmpDir("graft-route").toString + "/out"
    MapReduce.wordCount(spark, manyKeys, out, numReducers = 4)
    val parts = readParts(out)
    assert(parts.map(_._1) == (0 until 4).map(i => f"part-$i%05d"))
    assert(parts.forall(_._2.nonEmpty), parts.map(_._2.size))
    import spark.implicits._
    val keyed = parts.zipWithIndex.flatMap { case ((_, ls), i) =>
      ls.map(l => (l.split("\t", -1)(0), i)) }
    assert(keyed.size == 241)
    val wrong = keyed.toDF("key", "part")
      .filter(pmod(hash(col("key")), lit(4)) =!= col("part")).collect()
    assert(wrong.isEmpty, wrong.mkString(", "))
  }

  test("run plans a map-side combine and exactly one routing exchange") {
    val ex = exchanges(MapReduce.runLines(spark, manyKeys,
      MapReduce.wcMapTr, MapReduce.reduceSum, numReducers = 4))
    def partialAgg(p: SparkPlan) = aqe.find(p) {
      case a: HashAggregateExec => a.aggregateExpressions.forall(_.mode == Partial)
      case _ => false
    }.isDefined
    // the first exchange (nearest the scan) ships partial aggregates
    val first = ex.filter(e => aqe.find(e.child)(_.isInstanceOf[ShuffleExchangeExec]).isEmpty)
    assert(first.size == 1 && partialAgg(first.head.child), ex.mkString("\n"))
    assert(ex.count(_.shuffleOrigin == REPARTITION_BY_NUM) == 1, ex.mkString("\n"))
  }

  test("grep plans no exchange keyed on its constant key") {
    val ex = exchanges(MapReduce.runLines(spark, manyKeys,
      MapReduce.grepMap("common"), MapReduce.reduceValues, numReducers = 4))
    assert(!ex.exists(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.forall(_.foldable) ||
        h.references.exists(_.name == "key")
      case _ => false
    }), ex.mkString("\n"))
    assert(ex.map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM), ex.mkString("\n"))
  }

  // heavy duplicates within and across map tasks: every file repeats
  // lines of its own and lines shared with the others, plus keys that
  // are prefixes of each other and non-ASCII keys
  private lazy val dupLines: Seq[Seq[String]] = (0 until 4).map { f =>
    Seq.fill(40)("common\t1") ++ Seq.fill(7 + f)(s"own$f\t1") ++
      Seq.fill(3)("a\tz") ++ Seq.fill(2)("a b\t1") ++
      Seq.fill(f)("\uFFFD\t1") ++ Seq.fill(2)("\uD83D\uDE00\t9") ++
      (0 until 30).map(i => s"w${i % 11}\t${f % 2}") ++ Seq(s"solo$f")
  }
  private lazy val dupCorpus = mkCorpus(dupLines)

  private def utf8Sorted(ls: Seq[String]): Seq[String] =
    ls.sortBy(_.getBytes("UTF-8").toSeq)(Ordering.Implicits.seqOrdering[Seq, Byte](
      Ordering.by[Byte, Int](_ & 0xff)))

  test("runPipe feeds a cat reducer the exact sorted multiset of its partition") {
    for (r <- Seq(1, 3)) {
      val out = Spec.tmpDir("graft-runs").toString + "/out"
      MapReduce.runPipe(spark, dupCorpus, out, mapCmd = "cat",
        reduceCmd = "cat", numReducers = r, numMappers = Some(4))
      val md5 = new MapReduce.Md5Partitioner(r)
      val expected = dupLines.flatten
        .groupBy(l => md5.getPartition(l.takeWhile(_ != '\t')))
      readParts(out).zipWithIndex.foreach { case ((_, lines), p) =>
        assert(lines == utf8Sorted(expected.getOrElse(p, Nil)), s"R=$r part $p")
      }
    }
  }

  test("pipeReduce feeds a cat reducer each key's lines, byte-sorted, all of them") {
    import spark.implicits._
    val kv = dupLines.flatten.map { l =>
      val i = l.indexOf('\t')
      if (i < 0) (l, "") else (l.substring(0, i), l.substring(i + 1))
    }
    for (r <- Seq(1, 3)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", r.toString)
      val parts = MapReduce.pipeReduce("cat")(
        s.createDataset(kv).toDF("key", "value").repartition(4))
        .as[(String, String)].rdd.glom().collect()
        .map(_.toSeq.map { case (k, v) => s"$k\t$v" })
      assert(parts.length == r)
      parts.foreach(p => assert(p == utf8Sorted(p), s"R=$r"))
      assert(parts.flatten.sorted.toSeq ==
        kv.map { case (k, v) => s"$k\t$v" }.sorted, s"R=$r")
      val keysOf = parts.map(_.map(_.takeWhile(_ != '\t')).toSet)
      assert(keysOf.flatten.length == keysOf.flatten.distinct.length,
        s"R=$r: a key reached two reducers")
    }
  }

  test("pipeRuns combines map-side below its one routing exchange") {
    val lines = spark.sparkContext.parallelize(dupLines.flatten, 4)
    val runs = MapReduce.pipeRuns(spark, lines, 3)
    val counts = runs.collect().map(_.getLong(1))
    val ex = aqe.collect(runs.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(ex.map(_.shuffleOrigin) == Seq(REPARTITION_BY_NUM), ex.mkString("\n"))
    // the fold runs in the map tasks: fewer rows cross the exchange than
    // lines went in, and the counts add up to every line
    val shipped = ex.head.metrics("shuffleRecordsWritten").value
    assert(shipped == counts.length && shipped < dupLines.flatten.size,
      s"$shipped rows shipped")
    assert(counts.sum == dupLines.flatten.size)
  }

  test("pipeRuns stops folding a task whose first lines are mostly distinct") {
    import spark.implicits._
    val probe = MapReduce.ProbeLines
    // task 0 opens with distinct lines, task 1 with one repeated line;
    // both end with the same 500 repeats of "late"
    val distinctFirst = (0 until probe).map(i => s"d$i") ++ Seq.fill(500)("late")
    val repeatsFirst = Seq.fill(probe)("r") ++ Seq.fill(500)("late")
    val runs = MapReduce.pipeRuns(spark, spark.sparkContext
      .parallelize(Seq(distinctFirst, repeatsFirst), 2).flatMap(identity), 1)
      .as[(String, Long)].collect().toSeq
    assert(runs.count(_._1 == "late") == 501, "late runs: 500 of one, 1 of 500")
    assert(runs.count(_._1 == "r") == 1 && runs.count(_._1.startsWith("d")) == probe)
    assert(runs.map(_._2).sum == distinctFirst.size + repeatsFirst.size)
    // the reducer still reads every line, byte-sorted (one map task per
    // file: the first and last stop folding, the middle one folds)
    for (r <- Seq(1, 3)) {
      val files = Seq(distinctFirst, repeatsFirst, distinctFirst.reverse)
      val out = Spec.tmpDir("graft-runs").toString + "/out"
      MapReduce.runPipe(spark, mkCorpus(files), out, mapCmd = "cat",
        reduceCmd = "cat", numReducers = r, numMappers = Some(1))
      val md5 = new MapReduce.Md5Partitioner(r)
      val expected = files.flatten.groupBy(md5.getPartition(_))
      readParts(out).zipWithIndex.foreach { case ((_, lines), p) =>
        assert(lines == utf8Sorted(expected.getOrElse(p, Nil)), s"R=$r part $p")
      }
    }
  }
}
