package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.profiler.Stats

/** r17 optimization-round pins: the per-column single-distinct jobs
  * (no Expand) must return exactly what the fused k-countDistinct
  * aggregation returned, through every rewired consumer. */
class Round17OptSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def fixture = {
    // nulls, ties, a constant column, a unique column, strings +
    // ints + doubles, spread over several partitions so partial/final
    // merges actually happen
    val rows = (0 until 600).map { i =>
      Row(
        if (i % 11 == 0) null else Int.box(i % 37),
        s"s${i % 13}",
        Double.box(42.0),
        Long.box(i.toLong),
        if (i % 5 == 0) null else s"t${i % 251}")
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("n", IntegerType),
      StructField("s", StringType),
      StructField("c", DoubleType),
      StructField("u", LongType),
      StructField("t", StringType)))).repartition(5)
  }

  test("exactDistinctPerCol equals the fused countDistinct agg") {
    val df = fixture
    val cols = df.columns.toSeq
    val m = Stats.exactDistinctPerCol(df, cols)
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"cnt__$c"),
        countDistinct(Stats.orderable(df, c)).as(s"dis__$c"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).first()
    cols.foreach { c =>
      assert(m(c)._1 == r.getAs[Long](s"cnt__$c"), s"cnt $c")
      assert(m(c)._2 == r.getAs[Long](s"dis__$c"), s"dis $c")
    }
    // the long form's typed slots: −0.0/0.0, NaN, an all-null column,
    // map, decimal, date, timestamp and boolean columns, and no rows
    Seq(LongFormFixtures.edge(spark), LongFormFixtures.empty(spark))
      .foreach { e =>
        val ec = e.columns.toSeq
        val em = Stats.exactDistinctPerCol(e, ec)
        val eaggs = ec.flatMap { c =>
          Seq(count(col(c)).as(s"cnt__$c"),
            countDistinct(Stats.orderable(e, c)).as(s"dis__$c"))
        }
        val er = e.agg(eaggs.head, eaggs.tail: _*).first()
        ec.foreach { c =>
          assert(em(c) == ((er.getAs[Long](s"cnt__$c"),
            er.getAs[Long](s"dis__$c"))), s"edge $c")
        }
      }
  }

  test("Stats.distinct exact arm matches the fused-agg form") {
    val df = fixture
    val cols = df.columns.toSeq
    // the r16 fused form, inlined (Expand plan)
    val aggs = cols.flatMap { c =>
      val oc = Stats.orderable(df, c)
      Seq(count(col(c)).as(s"cnt__$c"), countDistinct(oc).as(s"dis__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).first()
    val got = Stats.distinct(df, cols).collect()
      .map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val cnt = row.getAs[Long](s"cnt__$c")
      val dis = row.getAs[Long](s"dis__$c")
      val g = got(c)
      assert(g.getAs[Long]("distinct_cnt") == dis, s"distinct_cnt $c")
      val exp =
        if (cnt == 0) null
        else Double.box(g.getAs[Double]("p_unique"))
      // p_unique recomputed through the same sig5(ratio()) expression;
      // spot-check it is the sig5 of dis/cnt
      if (cnt != 0) {
        val direct = spark.range(1).select(
          graft.det.Sig.sig5(lit(dis.toDouble / cnt))).first().getDouble(0)
        assert(g.getAs[Double]("p_unique") == direct, s"p_unique $c")
      } else assert(exp == null)
      assert(g.getAs[Long]("is_unique") == (if (dis == cnt) 1L else 0L))
    }
  }

  test("Stats.kinds matches the fused-agg CONST/UNIQUE overrides") {
    val df = fixture
    val got = Stats.kinds(df, df.columns.toSeq).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("c") == "CONST")
    assert(got("u") == "UNIQUE")
    assert(got("n") == "NUM")    // nullable, non-unique numeric
    assert(got("s") == "CAT")
    assert(got("t") == "CAT")    // 251 values over 480 non-null rows
  }

  test("Materialize.release unpersists a localCheckpoint frame") {
    val df = spark.range(0, 100).toDF("x")
    val mat = graft.ops.Materialize.materialize(df)
    val rdds = mat.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(rdds.nonEmpty, "materialize must produce a LogicalRDD")
    assert(rdds.forall(r =>
      r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE))
    graft.ops.Materialize.release(mat)
    assert(rdds.forall(r =>
      r.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE))
  }

  test("fuzzyVerify auto-cap keeps the exact kept set and distances " +
      "at the ratio boundary") {
    import spark.implicits._
    // 23-char base: one pair at exactly the 1/23 boundary (dist 1,
    // longer len 23 → ratio 1/23, kept with ≤) and one just over
    // (dist 2 → 2/23, dropped). Shared-vocab texts so the Jaccard
    // block at 0.1 passes them into verification.
    val base = "aa bb cc dd ee ff gg hh"   // 23 chars
    val docs = Seq(
      (1L, base),
      (2L, base.dropRight(1) + "x"),       // dist 1 vs doc 1
      (3L, base.replace("gg hh", "gx hx")) // dist 2 vs doc 1
    ).toDF("doc_id", "text")
    // effectively-uncapped expectation: cap far above any distance
    val expect = graft.ops.Dedup.fuzzyPairs(docs, "doc_id", "text",
      n = 2, blockJaccard = 0.1, maxNormDist = 1.0 / base.length,
      maxDistCap = Some(10000)).collect()
    // auto-cap path (maxDistCap = None → tight fuzzyCap)
    val got = graft.ops.Dedup.fuzzyPairs(docs, "doc_id", "text",
      n = 2, blockJaccard = 0.1, maxNormDist = 1.0 / base.length)
      .collect()
    assert(expect.nonEmpty, "fixture must keep the boundary pair")
    assert(got.toSeq == expect.toSeq)
    assert(got.forall(_.getAs[Long]("edit_dist") == 1L))
    assert(!got.exists(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 3L), "the over-boundary pair must drop")
  }

  test("parallelized leaves non-scan-rooted plans untouched") {
    // a joined input: probing df.rdd here would finalize + execute
    // the AQE stages eagerly (advisor r16) — the gate must skip it
    val a = spark.range(0, 100).toDF("x")
    val b = spark.range(0, 100).toDF("x")
    val j = a.join(b, "x")
    assert(Stats.parallelized(j) eq j)
  }
}
