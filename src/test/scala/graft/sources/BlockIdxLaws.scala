package graft.sources

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Model-based law for block-range chunk pruning: for RANDOM sorted
  * datasets (seeded — deterministic across runs) and a sweep of range /
  * point / IN predicates over both columns of a compound claim, the
  * chunk-pruned read must equal the in-memory model exactly — never a
  * lost row (unsound pruning), never a phantom. Runs a handful of
  * seeded shapes rather than ScalaCheck's 100 (each case is a full
  * Spark write+read); the shapes cover duplicate-heavy keys, negative
  * values, and run-straddling chunks.
  */
class BlockIdxLaws extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp(): String = graft.operators.Catalog.tempDir("graft_bixlaw")

  test("chunk-pruned answers equal the model over seeded random shapes " +
      "and a predicate sweep") {
    val shapes = Seq(
      // (seed, rows, gCard, rCard)
      (1L, 30000, 3, 40000),
      (2L, 25000, 500, 50),
      (3L, 20000, 1, 100000),
      (4L, 28000, 7, 11)
    )
    shapes.foreach { case (seed, n, gCard, rCard) =>
      val dir = tmp()
      // seeded pseudo-random pairs, then GLOBALLY sorted — the claim
      // verifies and chunks carry arbitrary duplicate structure
      val rng = new scala.util.Random(seed)
      val data = Array.fill(n)(
        (rng.nextInt(gCard).toLong - gCard / 2,
          rng.nextInt(rCard).toLong - rCard / 2))
        .sortBy(identity)
      import spark.implicits._
      data.toSeq.toDF("g", "r")
        .coalesce(1).sortWithinPartitions("g", "r")
        .write.format("graft-avro").option("sortedBy", "g,r")
        .mode("overwrite").save(dir)
      val t = spark.read.format("graft-avro").load(dir)
      val preds: Seq[((Long, Long)) => Boolean] = Seq(
        { case (g, _) => g == data(n / 3)._1 },
        { case (g, r) => g == data(n / 2)._1 && r >= data(n / 2)._2 },
        { case (_, r) => r == data(2 * n / 3)._2 },
        { case (g, _) => g >= data(n / 4)._1 && g <= data(3 * n / 4)._1 },
        { case (_, r) => r >= -3 && r <= 3 }
      )
      val sparkPreds = Seq(
        F.col("g") === data(n / 3)._1,
        F.col("g") === data(n / 2)._1 && F.col("r") >= data(n / 2)._2,
        F.col("r") === data(2 * n / 3)._2,
        F.col("g").between(data(n / 4)._1, data(3 * n / 4)._1),
        F.col("r").between(-3L, 3L)
      )
      preds.zip(sparkPreds).zipWithIndex.foreach {
        case ((model, cond), i) =>
          val want = data.count(model).toLong
          val got = t.filter(cond).count()
          withClue(s"seed=$seed pred=$i: ") { got shouldBe want }
      }
      // the index genuinely existed (the law must not pass vacuously)
      AvroFileSource.readBlockIdxRaw(
        AvroFileSource.blockIdxFile(new java.io.File(dir)))
        .headOption.map(_._2.size / 2).getOrElse(0) should be >= 2
    }
  }

  // == r18: per-chunk bloom cells (`chunkBloomFor`) — membership
  // pruning at chunk granularity. Same model-based law: the answer
  // under chunk-bloom pruning must equal the in-memory model for
  // point/IN predicates on a NON-sort column (whose zone bounds are
  // wide — only the bloom can prune), plus a partition-count assertion
  // that the pruning actually bites. ==

  test("chunk-bloom-pruned answers equal the model; scattered keys prune chunks") {
    val shapes = Seq((11L, 30000), (12L, 24000))
    shapes.foreach { case (seed, n) =>
      val dir = tmp()
      val rng = new scala.util.Random(seed)
      // sorted by g; id is a scattered ~unique key (zone bounds per
      // chunk are uselessly wide — ONLY the bloom can prune), so a
      // point key lives in exactly one chunk
      val data = Array.fill(n)(
        (rng.nextInt(1000).toLong, rng.nextLong(1L << 60)))
        .sortBy(_._1)
      import spark.implicits._
      data.toSeq.toDF("g", "id")
        .coalesce(1).sortWithinPartitions("g")
        .write.format("graft-avro").option("sortedBy", "g")
        .option("chunkBloomFor", "id")
        .mode("overwrite").save(dir)
      val t = spark.read.format("graft-avro").load(dir)
      // cells landed in the sidecar under the bloom tag
      val raw = AvroFileSource.readBlockIdxRaw(
        AvroFileSource.blockIdxFile(new java.io.File(dir)))
      val bloomLines = raw.headOption.map(_._2.count(
        _._2.startsWith("bloom:"))).getOrElse(0)
      val zoneLines = raw.headOption.map(_._2.count(
        _._2 == "bigint")).getOrElse(0)
      bloomLines shouldBe zoneLines // one cell per chunk
      bloomLines should be >= 4
      // point/IN predicate sweep on the bloomed column: exact answers
      val probes = Seq(data(n / 4)._2, data(n / 2)._2, data(3 * n / 4)._2,
        -1L /* absent value: zero rows, maximal pruning */)
      probes.foreach { id =>
        val want = data.count(_._2 == id).toLong
        withClue(s"seed=$seed id=$id: ") {
          t.filter(F.col("id") === id).count() shouldBe want
        }
      }
      val in3 = probes.take(3)
      t.filter(F.col("id").isin(in3: _*)).count() shouldBe
        data.count(d => in3.contains(d._2)).toLong
      // the pruning BITES: a present point key scans fewer partitions
      // than the file's chunk count (its single home chunk plus rare
      // false-positive keeps), an absent key scans zero (seeded, so a
      // false positive would be deterministic and visible here)
      def parts(df: org.apache.spark.sql.DataFrame): Int =
        ScanSplits.count(df)
      parts(t.filter(F.col("id") === data(n / 2)._2)) should
        be < bloomLines
      parts(t.filter(F.col("id") === -1L)) shouldBe 0
    }
  }

  // == r19: per-chunk TRIGRAM cells (`chunkTrigramFor`) — substring
  // pruning at chunk granularity. Same model law under a
  // contains/startsWith/endsWith sweep on a string column whose tokens
  // scatter (zone bounds useless), plus the bite assertion. ==

  test("trigram-chunk-pruned answers equal the model; substring probes prune chunks") {
    val shapes = Seq((21L, 30000), (22L, 24000))
    shapes.foreach { case (seed, n) =>
      val dir = tmp()
      val rng = new scala.util.Random(seed)
      // sorted by g; s carries a scattered random token — only the
      // trigram cell can prune a substring probe
      val data = Array.fill(n) {
        val tok = "t" + java.lang.Long.toHexString(rng.nextLong(1L << 60))
        (rng.nextInt(1000).toLong, s"doc $tok end")
      }.sortBy(_._1)
      import spark.implicits._
      data.toSeq.toDF("g", "s")
        .coalesce(1).sortWithinPartitions("g")
        .write.format("graft-avro").option("sortedBy", "g")
        .option("chunkTrigramFor", "s")
        .mode("overwrite").save(dir)
      val t = spark.read.format("graft-avro").load(dir)
      val raw = AvroFileSource.readBlockIdxRaw(
        AvroFileSource.blockIdxFile(new java.io.File(dir)))
      val trigLines = raw.headOption.map(_._2.count(
        _._2 == AvroFileSource.TrigramTypeTag)).getOrElse(0)
      val zoneLines = raw.headOption.map(_._2.count(
        _._2 == "bigint")).getOrElse(0)
      trigLines shouldBe zoneLines // one cell per chunk
      trigLines should be >= 4
      def tokOf(row: (Long, String)): String =
        row._2.stripPrefix("doc ").stripSuffix(" end")
      val probes = Seq(tokOf(data(n / 4)), tokOf(data(n / 2)),
        tokOf(data(3 * n / 4)), "tzzzzabsent")
      probes.foreach { tok =>
        withClue(s"seed=$seed contains=$tok: ") {
          t.filter(F.col("s").contains(tok)).count() shouldBe
            data.count(_._2.contains(tok)).toLong
        }
        withClue(s"seed=$seed startsWith: ") {
          t.filter(F.col("s").startsWith(s"doc $tok")).count() shouldBe
            data.count(_._2.startsWith(s"doc $tok")).toLong
        }
        withClue(s"seed=$seed endsWith: ") {
          t.filter(F.col("s").endsWith(s"$tok end")).count() shouldBe
            data.count(_._2.endsWith(s"$tok end")).toLong
        }
      }
      // the pruning BITES: a present token lives in one chunk (plus
      // rare deterministic FP keeps); an absent token's trigrams are
      // random-miss but 'tzz'+'zzz'... may collide — require < total,
      // not zero
      def parts(df: org.apache.spark.sql.DataFrame): Int =
        ScanSplits.count(df)
      parts(t.filter(F.col("s").contains(tokOf(data(n / 2))))) should
        be < trigLines
      parts(t.filter(F.col("s").contains("tzzzzabsent"))) should
        be < trigLines
    }
  }
}
