package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** The engine's A/B harness. Every mode times two arms, a and b, over the
  * same data: each arm runs once untimed, then `iters` rounds alternate
  * which arm goes first. The result is ONE JSON line with both medians.
  *
  *   sbt "runMain graft.Ab <mode> [rows] [iters]"
  *
  * Rows and iters are the trailing numbers; the words before them are
  * the mode. Modes (arm a vs arm b):
  *  - `columnar-{flat,nums,arrays,structs,unions,rename}`: a graft-avro
  *    scan + aggregate through the row decoder vs the vectorized one.
  *    The suffix picks the payload: a flat mixed row, its numeric
  *    columns only, `array<float>[32]`, nested records, a foreign
  *    `[string, long]` union, or the flat row behind a column rename.
  *  - `blockskip`: a 1 % range predicate on one sorted file with its
  *    `_graft_blockidx` removed vs present.
  *  - `chunkbloom`: a 4-key IN probe on a scattered key (every chunk's
  *    zone spans the domain) with the chunk bloom cells stripped from
  *    the block index vs present.
  *  - `profile <gate> [sfDir]`: one `SparkEntry` gate built, planned and
  *    run to a noop sink vs only built and planned; `rows` is unused.
  */
object Ab {
  private val DefaultRows = 10000000L
  private val DefaultIters = 5
  /** blockskip: fraction of the keys the range predicate keeps. */
  private val BlockSelectivity = 0.01
  /** chunkbloom: size of the probed IN-set. */
  private val ChunkKeys = 4

  def main(args: Array[String]): Unit = {
    val words = args.takeWhile(a => a.isEmpty || !a.forall(_.isDigit))
    require(words.nonEmpty, "usage: graft.Ab <mode> [rows] [iters]")
    val nums = args.drop(words.length).map(_.toLong)
    val spark = LocalSession()
    try println(run(spark, words.mkString(" "),
      nums.headOption.getOrElse(DefaultRows),
      nums.lift(1).fold(DefaultIters)(_.toInt)))
    finally spark.stop()
  }

  /** Run one mode in `spark` (left running) and return its JSON line. */
  def run(spark: SparkSession, mode: String, rows: Long, iters: Int): String = {
    require(iters > 0, s"iters must be positive, got $iters")
    val ((a, b), (aSec, bSec)) = mode.trim.split("\\s+").toList match {
      case s"columnar-$shape" :: Nil =>
        ("row", "columnar") -> columnar(spark, shape, rows, iters)
      case "blockskip" :: Nil =>
        ("no_index", "index") -> blockSkip(spark, rows, iters)
      case "chunkbloom" :: Nil =>
        ("zone_only", "cells") -> chunkBloom(spark, rows, iters)
      case "profile" :: gate :: sf =>
        ("run", "plan") ->
          profile(spark, gate, sf.headOption.getOrElse("/root/testdata/sf0.1"), iters)
      case _ => throw new IllegalArgumentException(s"unknown A/B mode '$mode'")
    }
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    s"""{"mode":"${mode.trim}","rows":$rows,"iters":$iters,""" +
      s""""a":"$a","a_sec":${fmt(aSec)},"b":"$b","b_sec":${fmt(bSec)},""" +
      s""""a_over_b":${fmt(aSec / bSec)}}"""
  }

  /** Warm both arms (`arm(false)` is a, `arm(true)` is b), then time
    * `iters` rounds, alternating which arm runs first. `enter` puts the
    * data into an arm's state outside the timer. Returns the (a, b)
    * medians in seconds.
    */
  private def paired(iters: Int, enter: Boolean => Unit = _ => ())(
      arm: Boolean => Unit): (Double, Double) = {
    def timed(isB: Boolean): Double = {
      enter(isB)
      val t0 = System.nanoTime()
      arm(isB)
      (System.nanoTime() - t0) / 1e9
    }
    timed(false); timed(true)
    val rounds = (0 until iters).map { i =>
      if (i % 2 == 0) { val a = timed(false); (a, timed(true)) }
      else { val b = timed(true); (timed(false), b) }
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    (median(rounds.map(_._1)), median(rounds.map(_._2)))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def columnar(spark: SparkSession, shape: String, rows: Long,
      iters: Int): (Double, Double) = {
    val dir = operators.Catalog.tempDir("columnar_ab")
    val flat = Seq("id", "cast(id % 9973 as double) as d",
      "cast(id % 2 = 0 as boolean) as b", "md5(cast(id as string)) as s1",
      "repeat(cast(id % 1000 as string), 4) as s2")
    val cols = shape match {
      case "flat" | "nums" | "rename" => flat
      case "arrays" => Seq("id",
        "transform(sequence(0, 31), x -> cast(id % 997 + x as float)) as emb")
      case "structs" => Seq("id",
        """named_struct(
             'name', md5(cast(id as string)),
             'score', cast(id % 9973 as double),
             'inner', named_struct('a', id * 2, 'b',
               cast(id % 2 = 0 as boolean))) as info""")
      case "unions" => Nil
      case _ => throw new IllegalArgumentException(
        s"unknown columnar payload '$shape'")
    }
    if (shape == "unions") writeUnionFiles(dir, rows)
    else spark.range(rows).selectExpr(cols: _*).repartition(32)
      .write.format("graft-avro").mode("append").save(dir)
    val (d, s1) =
      if (shape != "rename") ("d", "s1")
      else {
        sources.AvroMaintenance.renameColumn(dir, "d", "dr")
        sources.AvroMaintenance.renameColumn(dir, "s1", "sr")
        ("dr", "sr")
      }
    paired(iters) { vectorized =>
      val df = spark.read.format("graft-avro")
        .option("columnar", vectorized).load(dir)
      // every payload keeps a non-column aggregate or a double SUM, which
      // the metadata-served aggregate pushdown never answers, so the
      // scan always runs
      noop(shape match {
        case "unions" => df.agg(F.sum("uid"),
          F.sum(F.length(F.col("v.string"))), F.sum("v.long"),
          F.count(F.when(F.col("v.tag") === "long", 1)))
        case "structs" => df.agg(F.sum(F.length(F.col("info.name"))),
          F.sum("info.score"), F.sum("info.inner.a"))
        case "arrays" => df.agg(F.sum(F.size(F.col("emb"))),
          F.sum(F.element_at(F.col("emb"), 3)))
        case "nums" => df.agg(F.sum("id"), F.sum(d))
        case _ => df.agg(F.sum("id"), F.sum(d),
          F.sum(F.length(F.col(s1))), F.sum(F.length(F.col("s2"))),
          F.count(F.when(F.col("b"), 1)))
      })
    }
  }

  /** 32 foreign container files with a `[string, long]` union column —
    * the engine's own sink writes a union only when rewriting one, so
    * forge them with Avro's GenericDatumWriter.
    */
  private def writeUnionFiles(dir: String, rows: Long): Unit = {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter,
      GenericRecord}
    val unionS = Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
    val recS = SchemaBuilder.record("U").namespace("ab").fields()
      .requiredLong("uid")
      .name("v").`type`(unionS).noDefault()
      .endRecord()
    val perFile = rows / 32
    java.util.stream.IntStream.range(0, 32).parallel().forEach { p =>
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](recS))
      w.setCodec(org.apache.avro.file.CodecFactory.fromString(
        sources.AvroFileSource.DefaultCodec))
      w.create(recS, new File(dir, f"u-$p%05d.avro"))
      try {
        var i = 0L
        while (i < perFile) {
          val id = p * perFile + i
          val r = new GenericData.Record(recS)
          r.put("uid", id)
          r.put("v", if (id % 2 == 0) s"s$id" else Long.box(id * 10L))
          w.append(r)
          i += 1
        }
      } finally w.close()
    }
  }

  /** One sorted single-file table: `k` ascending, plus `extra` columns. */
  private def sortedFile(spark: SparkSession, rows: Long, prefix: String,
      opts: Map[String, String])(extra: DataFrame => DataFrame): String = {
    val dir = operators.Catalog.tempDir(prefix)
    extra(spark.range(0, rows).toDF("k"))
      .coalesce(1).sortWithinPartitions("k")
      .write.format("graft-avro").option("sortedBy", "k").options(opts)
      .mode("overwrite").save(dir)
    dir
  }

  /** Pair arms that differ only in the `_graft_blockidx` sidecar: arm a
    * sees `armA` of the written text (None = no sidecar), arm b the file
    * as written. The written bytes are restored in a finally, so a
    * failed run never leaves the table measuring the wrong arm.
    */
  private def sidecarPaired(dir: String, iters: Int,
      armA: String => Option[String])(query: => Unit): (Double, Double) = {
    val f = sources.AvroFileSource.blockIdxFile(new File(dir)).toPath
    require(Files.isRegularFile(f), "no block index written")
    val written = Files.readAllBytes(f)
    val a = armA(new String(written, UTF_8))
    try paired(iters, enter = isB =>
      if (isB) Files.write(f, written)
      else a.fold(Files.delete(f))(t => { Files.write(f, t.getBytes(UTF_8)); () })
    )(_ => query)
    finally { Files.write(f, written); () }
  }

  private def blockSkip(spark: SparkSession, rows: Long,
      iters: Int): (Double, Double) = {
    val dir = sortedFile(spark, rows, "block_ab", Map.empty)(_
      .withColumn("payload", F.md5(F.col("k").cast("string")))
      .withColumn("v", F.col("k") * 3))
    val lo = (rows * 0.6).toLong
    val hi = lo + (rows * BlockSelectivity).toLong
    sidecarPaired(dir, iters, _ => None) {
      noop(spark.read.format("graft-avro").load(dir)
        .filter(F.col("k").between(lo, hi))
        .agg(F.sum("v"), F.count(F.lit(1))))
    }
  }

  private def chunkBloom(spark: SparkSession, rows: Long,
      iters: Int): (Double, Double) = {
    // id = scrambled bijection of the row ordinal: every chunk's id
    // bounds span ~[0, rows·large), so zones cannot prune on it and
    // only the bloom cells can
    val dir = sortedFile(spark, rows, "chunk_bloom_ab",
      Map("chunkBloomFor" -> "id"))(_
      .withColumn("id", F.expr("pmod(k * 2654435761, 68718952447)"))
      .withColumn("payload", F.md5(F.col("k").cast("string"))))
    def idOf(k: Long): Long = Math.floorMod(k * 2654435761L, 68718952447L)
    val keys = (1 to ChunkKeys).map(i => idOf(i.toLong * rows / (ChunkKeys + 1)))
    sidecarPaired(dir, iters, { text =>
      require(text.contains("bloom:"), "no chunk-bloom cells written")
      Some(text.split('\n')
        .filterNot(_.split('\t').lift(2).exists(_.startsWith("bloom:")))
        .mkString("", "\n", "\n"))
    }) {
      noop(spark.read.format("graft-avro").load(dir)
        .filter(F.col("id").isin(keys: _*))
        .agg(F.sum("k"), F.count(F.lit(1))))
    }
  }

  private def profile(spark: SparkSession, gate: String, sfDir: String,
      iters: Int): (Double, Double) = {
    val fn = SparkEntry.queries.getOrElse(gate,
      throw new IllegalArgumentException(s"no gate named '$gate'"))
    // gates pin frames they read twice: release them between runs so
    // every run starts from the same cache state
    paired(iters, enter = _ =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    ) { planOnly =>
      val df = fn(spark, sfDir)
      if (planOnly) df.queryExecution.executedPlan else noop(df)
      ()
    }
  }
}
