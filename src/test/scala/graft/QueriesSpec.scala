package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must execute at sf0.001 and (except the ones
  * whose predicates can select nothing at this tiny scale) return rows.
  * The real value-level gate is the DuckDB oracle at sf0.01
  * (tools/compare.py); this spec catches plan-level regressions fast.
  */
class QueriesSpec extends AnyFunSuite {

  lazy val spark = Spec.spark

  // queries whose filters may legitimately select zero rows at sf0.001
  private val mayBeEmpty = Set("q06_anti_join", "q22_grep")

  SparkEntry.all.foreach { q =>
    test(s"${q.name} runs at sf0.001 with a flat result schema") {
      // one construction per query: the iterative queries (k-means,
      // components, PageRank) run real jobs at DataFrame-BUILD time, so
      // a separate schema-only test would pay their full cost again
      val df = q.fn(spark, Spec.sfDir)
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      // OUTPUT-TYPE CONTRACT: result sinks are compared row-wise by
      // external harnesses (and consumed by exports/BI) whose two fetch
      // paths — parquet via pyarrow→pandas, SQL oracles via DuckDB
      // .df() — only agree on the representation of this closed type
      // set. Outside it, identical VALUES can hash differently: nested
      // columns are unsortable/unhashable (q73, round 3), and DECIMAL
      // arrives as float64 from one path but Decimal objects from the
      // other (q125, round 6 — the suite's only red row). Wide/exotic
      // shapes belong INSIDE plans; at the sink, carry exact wide
      // integers as digit strings (q125) or keep them internal
      // (q109/q126). Intentionally NOT in the set: decimal, binary,
      // float32, short/byte, array/map/struct.
      import org.apache.spark.sql.types._
      val stable: Set[DataType] = Set(LongType, IntegerType, DoubleType,
        StringType, BooleanType, DateType, TimestampType)
      val offending = df.schema.fields.filterNot(f => stable(f.dataType))
      assert(offending.isEmpty,
        s"${q.name} emits non-driver-stable output columns: " +
          offending.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(","))
    }
  }

  test("q195/q196 stop at the reference-tree message without the checkout") {
    assume(scala.util.Try(
      operators.TextOps.refPath("tests/testdata/input")).isFailure,
      "the reference checkout is present")
    Seq("q195_ref_wordcount_golden", "q196_ref_grep_golden").foreach { n =>
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries(n)(spark, Spec.sfDir).count()
      }
      assert(e.getMessage.contains("reference tree not found at"),
        s"$n: ${e.getMessage}")
    }
  }

  test("entry() smoke (driver contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("events reads on a caller-built session (nanosAsLong fallback)") {
    // a fresh session has default confs — conf.getOption returns the
    // REGISTERED default Some("false"), so the fallback must check the
    // effective value, not presence (a dead isEmpty guard would throw
    // PARQUET_TYPE_ILLEGAL here)
    val fresh = Spec.spark.newSession()
    assert(Tables.events(fresh, Spec.sfDir).count() > 0)
  }
}
