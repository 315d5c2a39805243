package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Grouped metadata MIN/MAX (+COUNT) by partition-path columns: each
  * file contributes (partition values, col-zone bounds, block-header
  * count) and Spark folds per key — zero rows decoded. Stand-downs:
  * positional deletes, missing/partial col-zone coverage, float
  * columns, truncated string bounds.
  */
class AvroGroupStatsSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_gstats")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def grouped(dir: String): DataFrame =
    spark.read.format("graft-avro").load(dir)
      .groupBy("p")
      .agg(F.min("k").as("mn"), F.max("k").as("mx"),
        F.count(F.lit(1)).as("n"))

  test("grouped min/max/count serves from metadata, exact per key") {
    val dir = tmp()
    spark.range(1000)
      .selectExpr("id as k", "concat('p', cast(id % 5 as string)) as p")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val df = grouped(dir)
    plan(df) should include(
      "PushedAggregation: [MIN(k), MAX(k), COUNT(*)]")
    plan(df) should include("PushedGroupBy: [p]")
    val got = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    (0 until 5).foreach { i =>
      val ks = (0 until 1000).filter(_ % 5 == i)
      got(s"p$i") shouldBe ((ks.min.toLong, ks.max.toLong,
        ks.size.toLong))
    }
  }

  test("all-null and partly-null columns: SQL semantics hold") {
    val dir = tmp()
    spark.range(100)
      .selectExpr(
        "if(id < 50, null, id) as k", // group 'a' all-null, 'b' valued
        "if(id < 50, 'a', 'b') as p")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val df = spark.read.format("graft-avro").load(dir)
      .groupBy("p").agg(F.min("k").as("mn"), F.max("k").as("mx"))
    plan(df) should include("PushedAggregation: [MIN(k), MAX(k)]")
    val got = df.collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    got("a") shouldBe ((None, None))
    got("b") shouldBe ((Some(50L), Some(99L)))
  }

  test("composes with a partition-decided filter") {
    val dir = tmp()
    spark.range(300)
      .selectExpr("id as k", "concat('g', cast(id % 3 as string)) as p")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val df = spark.read.format("graft-avro").load(dir)
      .filter("p IN ('g0', 'g2')")
      .groupBy("p").agg(F.min("k").as("mn"), F.max("k").as("mx"))
    plan(df) should include("PushedAggregation: [MIN(k), MAX(k)]")
    val got = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    got should have size 2
    got("g0") shouldBe ((0L, 297L))
    got("g2") shouldBe ((2L, 299L))
  }

  test("positional deletes, float columns, missing manifest stand down") {
    val dir = tmp()
    spark.range(100)
      .selectExpr("id as k", "cast(id as double) as x",
        "if(id < 50, 'a', 'b') as p")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    // float/double aggregate: real rows
    val byX = spark.read.format("graft-avro").load(dir)
      .groupBy("p").agg(F.min("x").as("mn"))
    (plan(byX) should not).include("PushedAggregation")
    byX.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap shouldBe
      Map("a" -> 0.0, "b" -> 50.0)
    // manifest removed: real rows, same answer
    AvroFileSource.colZoneFile(new java.io.File(dir)).delete()
    val noMan = grouped(dir)
    (plan(noMan) should not).include("PushedAggregation")
    noMan.collect().map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 0L, "b" -> 50L)
  }

  test("posdel HYBRID: stays pushed, only dirty files re-scan, exact") {
    val dir = tmp()
    spark.range(100)
      .selectExpr("id as k", "if(id < 50, 'a', 'b') as p")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val rel = AvroFileSource.listPartitioned(new java.io.File(dir))
      .collectFirst { case (f, pv) if pv.get("p").contains("a") =>
        new java.io.File(dir).getAbsoluteFile.toPath
          .relativize(f.getAbsoluteFile.toPath).toString }.get
    AvroMaintenance.deleteAtPositions(dir, rel, Seq(0L)) // kills k=0
    val df = grouped(dir)
    // r19: the grouped-stats hybrid serves under posdel (it used to
    // stand the whole path down)
    plan(df) should include("PushedAggregation")
    val got = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    got("a") shouldBe ((1L, 49L, 49L)) // dead k=0 never serves
    got("b") shouldBe ((50L, 99L, 50L))
    // structural pin: the dirty file arrives as hybrid (real-scan)
    // partitions, every CLEAN file as a zero-decode cells row — the
    // cells reader cannot decode rows at all, so clean files provably
    // never decode
    // sparkPlan, not executedPlan: AQE wraps the latter before execution
    val parts = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten
    }.get
    val hybrid = parts.collect { case h: AvroGroupHybridPartition => h }
    val cellsP = parts.collect { case c: AvroGroupStatsPartition => c }
    hybrid should not be empty
    all(hybrid.map(_.file)) should endWith(rel)
    cellsP.map(_.file).foreach(f => f should not(endWith(rel)))
    cellsP should not be empty
  }

  test("posdel hybrid: SUM/COUNT(col) mixes stay pushed, exact (r20)") {
    val dir = tmp()
    // coalesce(1): one in-order file per partition dir, so posdel
    // ordinals 0 and 7 of the 'a' file are exactly k=0 and k=7
    spark.range(100).coalesce(1)
      .selectExpr("id as k", "if(id % 7 = 0, null, id * 2) as v",
        "if(id < 50, 'a', 'b') as p")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val rel = AvroFileSource.listPartitioned(new java.io.File(dir))
      .collectFirst { case (f, pv) if pv.get("p").contains("a") =>
        new java.io.File(dir).getAbsoluteFile.toPath
          .relativize(f.getAbsoluteFile.toPath).toString }.get
    AvroMaintenance.deleteAtPositions(dir, rel, Seq(0L, 7L)) // k=0, k=7
    val df = spark.read.format("graft-avro").load(dir)
      .groupBy("p").agg(F.min("k").as("mn"), F.sum("k").as("s"),
        F.sum("v").as("sv"), F.count("v").as("nv"),
        F.count(F.lit(1)).as("n"))
    // r20: SUM/COUNT(col) ride the hybrid — dirty files re-scan as
    // per-file (keys, addExact sum, non-null count, surviving) rows
    plan(df) should include("PushedAggregation")
    val got = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    // partition a: k=0 and k=7 dead; v null where k % 7 == 0 (0,7,...,49
    // = 8 rows, of which k=0 and k=7 died → 6 surviving nulls)
    val aliveA = (1L until 50L).filter(_ != 7L)
    got("a") shouldBe ((1L, aliveA.sum,
      aliveA.filter(_ % 7 != 0).map(_ * 2).sum,
      aliveA.count(_ % 7 != 0).toLong, aliveA.length.toLong))
    val bAll = (50L until 100L)
    got("b") shouldBe ((50L, bAll.sum,
      bAll.filter(_ % 7 != 0).map(_ * 2).sum,
      bAll.count(_ % 7 != 0).toLong, 50L))
    // structural: only the dirty file decodes (the clean files ride
    // zero-decode cells rows)
    val parts = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten
    }.get
    val hybrid = parts.collect { case h: AvroGroupHybridPartition => h }
    hybrid should not be empty
    all(hybrid.map(_.file)) should endWith(rel)
    parts.collect { case c: AvroGroupStatsPartition => c } should
      not be empty
  }

  test("posdel hybrid: SUM overflow in a dirty file throws (ANSI)") {
    val dir = tmp()
    // ONE file of [MaxValue, MaxValue, 1]; delete the 1 — the dirty
    // in-file fold sums two Long.MaxValue and must THROW (addExact),
    // exactly where Spark's ANSI sum over the same surviving rows
    // would, never a silently wrapped value
    spark.range(3)
      .selectExpr(s"if(id < 2, ${Long.MaxValue}L, 1L) as k", "'a' as p")
      .repartition(1)
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val rel = AvroFileSource.listPartitioned(new java.io.File(dir))
      .collectFirst { case (f, _) =>
        new java.io.File(dir).getAbsoluteFile.toPath
          .relativize(f.getAbsoluteFile.toPath).toString }.get
    AvroMaintenance.deleteAtPositions(dir, rel, Seq(2L))
    val df = spark.read.format("graft-avro").load(dir)
      .groupBy("p").agg(F.sum("k").as("s"))
    an[Exception] should be thrownBy df.collect()
  }

  test("posdel hybrid: a fully-deleted group VANISHES (no phantom key)") {
    val dir = tmp()
    spark.range(60)
      .selectExpr("id as k", "if(id < 30, 'a', 'b') as p")
      .repartition(1) // one file per partition dir: delete ALL of 'a'
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val rel = AvroFileSource.listPartitioned(new java.io.File(dir))
      .collectFirst { case (f, pv) if pv.get("p").contains("a") =>
        new java.io.File(dir).getAbsoluteFile.toPath
          .relativize(f.getAbsoluteFile.toPath).toString }.get
    AvroMaintenance.deleteAtPositions(dir, rel, 0L until 30L)
    val df = grouped(dir)
    plan(df) should include("PushedAggregation")
    val got = df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(3)))).toMap
    // SQL has no zero-row groups: a (keys, count 0, null bounds)
    // partial would resurrect the dead group
    got.keySet shouldBe Set("b")
    got("b") shouldBe ((30L, 30L))
  }

  test("string bounds at the truncation cap stand down") {
    val dir = tmp()
    spark.range(40)
      .selectExpr(
        s"concat('s', repeat('x', ${AvroFileSource.StringBoundMax + 8}), " +
          "cast(id as string)) as s",
        "if(id < 20, 'a', 'b') as p")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val df = spark.read.format("graft-avro").load(dir)
      .groupBy("p").agg(F.max("s").as("mx"))
    (plan(df) should not).include("PushedAggregation")
    df.count() shouldBe 2
  }

  test("grouped min/max of timestamp, NTZ and decimal columns") {
    val dir = tmp()
    spark.range(100)
      .selectExpr("concat('p', cast(id % 2 as string)) as p",
        "timestamp_seconds(1700000000 + id) as ts",
        "make_timestamp_ntz(2024, 1, 1, 0, 0, cast(id % 60 as int)) as ntz",
        "cast(id / 8.0 as decimal(10, 3)) as dec")
      .write.format("graft-avro").option("partitionBy", "p")
      .mode("overwrite").save(dir)
    val t = spark.read.format("graft-avro").load(dir)
    val aggs = Seq("ts", "ntz", "dec").flatMap(c =>
      Seq(F.min(c).as(s"${c}_mn"), F.max(c).as(s"${c}_mx")))
    val df = t.groupBy("p").agg(aggs.head, aggs.tail: _*)
    plan(df) should include("PushedGroupBy: [p]")
    val expected = spark.range(100)
      .selectExpr("concat('p', cast(id % 2 as string)) as p",
        "timestamp_seconds(1700000000 + id) as ts",
        "make_timestamp_ntz(2024, 1, 1, 0, 0, cast(id % 60 as int)) as ntz",
        "cast(id / 8.0 as decimal(10, 3)) as dec")
      .groupBy("p").agg(aggs.head, aggs.tail: _*)
    df.orderBy("p").collect().toSeq shouldBe
      expected.orderBy("p").collect().toSeq
  }
}
