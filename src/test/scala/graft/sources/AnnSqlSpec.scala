package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** SQL-surface ANN index lifecycle (r18): CALL system.build_ivf_index /
  * append_ivf_assignments / rebalance_ivf_index plus the ivf_search TVF
  * must drive the whole persisted-IVF story without a line of Scala, and
  * the TVF expansion must be a pure day-2 search — index tables read as
  * ordinary graft-avro scans, ZERO training trace (no
  * LogicalRDD/ExistingRDD leaves from a Lloyd localCheckpoint).
  */
class AnnSqlSpec extends AnyFunSuite with SparkSpec with Matchers {

  private val dir = "/root/testdata/sf0.001"

  private def ensureCat(): Unit = {
    if (spark.conf.getOption("spark.sql.catalog.ann_spec").isEmpty) {
      spark.conf.set("spark.sql.catalog.ann_spec",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.ann_spec.root",
        graft.operators.Catalog.tempDir("ann_spec_cat"))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ann_spec.ns")
  }

  test("build → search via SQL matches the Scala persisted-index path") {
    ensureCat()
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .createOrReplaceTempView("ann_spec_src")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.idx_centroids")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.idx_assign")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.emb")
    spark.sql(
      "CREATE TABLE ann_spec.ns.emb AS SELECT * FROM ann_spec_src")
    val built = spark.sql("CALL ann_spec.system.build_ivf_index(" +
      "'ns.emb', 'vec_id', 'embedding', 'ns.idx')").head()
    built.getString(0) shouldBe "ns.idx"
    built.getLong(1) shouldBe 8L // seeds vec_id < 8

    val search = spark.sql(
      "SELECT qid, vec_id, d, rn FROM ivf_search('ann_spec.ns.idx', 20) " +
        "ORDER BY qid, rn")
    // plan guard: the TVF expansion reads the published index — no
    // checkpointed RDD leaf (the tell-tale of training inside search)
    val optimized = search.queryExecution.optimizedPlan.toString
    optimized should include("graft-avro")
    optimized should not include "LogicalRDD"
    optimized should not include "ExistingRDD"
    search.queryExecution.executedPlan.toString should
      not include "ExistingRDD"

    // equality with the Scala path over the same corpus + index build
    val scala = graft.operators.LlmSimilarity.queries(
      "llm_similar_ivf_persist")(spark, dir)
    search.collect() shouldBe scala.select("qid", "vec_id", "d", "rn")
      .collect()
  }

  test("append + rebalance procedures maintain the index; sidecar resolves the corpus") {
    ensureCat()
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .createOrReplaceTempView("ann_spec_src2")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.g_centroids")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.g_assign")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.emb2")
    val n = spark.table("ann_spec_src2").count()
    val cut = n / 2
    spark.sql("CREATE TABLE ann_spec.ns.emb2 AS " +
      s"SELECT * FROM ann_spec_src2 WHERE vec_id < $cut")
    spark.sql("CALL ann_spec.system.build_ivf_index(" +
      "'ns.emb2', 'vec_id', 'embedding', 'ns.g')")
    spark.read.format("graft-avro")
      .load(spark.conf.get("spark.sql.catalog.ann_spec.root") +
        "/ns/g_assign").count() shouldBe cut

    // grow the corpus, append assignments without retraining
    spark.sql("INSERT INTO ann_spec.ns.emb2 " +
      s"SELECT * FROM ann_spec_src2 WHERE vec_id >= $cut")
    val v = spark.sql("CALL ann_spec.system.append_ivf_assignments(" +
      s"'ns.g', $cut)").head().getLong(0)
    v should be >= 2L // build committed v1; the append minted a version
    val asg = spark.read.format("graft-avro")
      .load(spark.conf.get("spark.sql.catalog.ann_spec.root") +
        "/ns/g_assign")
    asg.count() shouldBe n

    // rebalance: returns the split count; assignment count is preserved
    val nSplit = spark.sql(
      "CALL ann_spec.system.rebalance_ivf_index('ns.g')")
      .head().getLong(0)
    nSplit should be >= 0L
    asg.count() shouldBe n

    // search still serves (the sidecar carried corpus ref + col names)
    val rows = spark.sql(
      "SELECT * FROM ivf_search('ann_spec.ns.g', 20, 6, 3)").collect()
    rows.length should be > 0
    rows.map(_.getAs[Long]("qid")).distinct.length shouldBe 20
  }

  test("PQ: build via CALL, ADC search via TVF, zero training trace") {
    ensureCat()
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .createOrReplaceTempView("ann_spec_pq_src")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.p_codebook")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.p_codes")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.pqemb")
    spark.sql(
      "CREATE TABLE ann_spec.ns.pqemb AS SELECT * FROM ann_spec_pq_src")
    val built = spark.sql("CALL ann_spec.system.build_pq_index(" +
      "'ns.pqemb', 'vec_id', 'embedding', 'ns.p')").head()
    built.getString(0) shouldBe "ns.p"
    built.getLong(1) shouldBe 64L // m=8 subspaces x k=8 centroids

    val search = spark.sql(
      "SELECT qid, rn, vec_id, adc_d FROM pq_search('ann_spec.ns.p', 20) " +
        "ORDER BY qid, rn")
    val optimized = search.queryExecution.optimizedPlan.toString
    optimized should include("graft-avro")
    optimized should not include "LogicalRDD"
    optimized should not include "ExistingRDD"

    // equality with the Scala persisted-PQ path over the same corpus
    val scala = graft.operators.LlmSimilarity.queries(
      "llm_similar_pq_persist")(spark, dir)
    search.collect() shouldBe scala.collect()
  }

  test("external query vector: ivf_search/pq_search with array(…), zero training trace") {
    ensureCat()
    // reuses the indexes the first/PQ tests built; rebuild if run alone
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .createOrReplaceTempView("ann_spec_qv_src")
    if (!spark.catalog.tableExists("ann_spec.ns.idx_centroids")) {
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.idx_assign")
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.emb")
      spark.sql(
        "CREATE TABLE ann_spec.ns.emb AS SELECT * FROM ann_spec_qv_src")
      spark.sql("CALL ann_spec.system.build_ivf_index(" +
        "'ns.emb', 'vec_id', 'embedding', 'ns.idx')")
    }
    if (!spark.catalog.tableExists("ann_spec.ns.p_codebook")) {
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.p_codes")
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.pqemb")
      spark.sql(
        "CREATE TABLE ann_spec.ns.pqemb AS SELECT * FROM ann_spec_qv_src")
      spark.sql("CALL ann_spec.system.build_pq_index(" +
        "'ns.pqemb', 'vec_id', 'embedding', 'ns.p')")
    }
    // the query = corpus row 0's EXACT embedding, passed as an external
    // literal array: with no self-exclusion on the vector form, the
    // nearest neighbor at distance 0 must be vec_id 0 itself — proof
    // the external vector quantizes exactly as the corpus path
    val v0 = spark.table("ann_spec_qv_src")
      .filter("vec_id = 0").head().getSeq[Float](1)
    val arr = v0.map(f => java.math.BigDecimal.valueOf(f.toDouble)
      .toPlainString).mkString("array(", ", ", ")")
    val ivf = spark.sql(
      s"SELECT vec_id, d, rn FROM ivf_search('ann_spec.ns.idx', $arr, 6, 3)")
    val iopt = ivf.queryExecution.optimizedPlan.toString
    iopt should include("graft-avro")
    iopt should not include "LogicalRDD"
    iopt should not include "ExistingRDD"
    val irows = ivf.collect()
    irows.length shouldBe 3
    irows.head.getAs[Long]("vec_id") shouldBe 0L
    irows.head.getAs[Long]("d") shouldBe 0L
    ivf.columns should not contain "qid"

    val pq = spark.sql(
      s"SELECT rn, vec_id, adc_d FROM pq_search('ann_spec.ns.p', $arr, 3)")
    val popt = pq.queryExecution.optimizedPlan.toString
    popt should include("graft-avro")
    popt should not include "LogicalRDD"
    popt should not include "ExistingRDD"
    val prows = pq.collect()
    prows.length shouldBe 3
    // ADC ranks by distance to stored CODES (codes pair with the
    // previous codebook — CLAUDE.md PQ contract), so exact rank-1 isn't
    // guaranteed; the self row's residual distance must still place it
    // in the top-3
    prows.map(_.getAs[Long]("vec_id")) should contain(0L)
  }

  test("index meta sidecar round-trips hostile names; absence is loud") {
    val d = new java.io.File(graft.operators.Catalog.tempDir("ann_meta"))
    val m = GraftAnnIndex.Meta("ns.emb table", "vec id\t#1", "embä dding")
    GraftAnnIndex.writeMeta(d, m)
    GraftAnnIndex.readMeta(d) shouldBe m
    val e = intercept[IllegalArgumentException] {
      GraftAnnIndex.readMeta(
        new java.io.File(graft.operators.Catalog.tempDir("ann_meta2")))
    }
    e.getMessage should include("build_ivf_index")
  }

  test("batch external queries: ivf_search/pq_search with a query-table ref") {
    ensureCat()
    // relies on the indexes built by the earlier tests (rebuilt there if
    // missing); the query table holds corpus rows 0..2 as EXTERNAL
    // (qid, qvec) — with no self-exclusion each qid's top hit at
    // distance 0 must be its own corpus row
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .createOrReplaceTempView("ann_spec_qt_corpus")
    if (!spark.catalog.tableExists("ann_spec.ns.idx_centroids")) {
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.idx_assign")
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.emb")
      spark.sql(
        "CREATE TABLE ann_spec.ns.emb AS SELECT * FROM ann_spec_qt_corpus")
      spark.sql("CALL ann_spec.system.build_ivf_index(" +
        "'ns.emb', 'vec_id', 'embedding', 'ns.idx')")
    }
    if (!spark.catalog.tableExists("ann_spec.ns.p_codebook")) {
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.p_codes")
      spark.sql("DROP TABLE IF EXISTS ann_spec.ns.pqemb")
      spark.sql(
        "CREATE TABLE ann_spec.ns.pqemb AS SELECT * FROM ann_spec_qt_corpus")
      spark.sql("CALL ann_spec.system.build_pq_index(" +
        "'ns.pqemb', 'vec_id', 'embedding', 'ns.p')")
    }
    spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id as qid", "embedding as qvec")
      .filter("qid < 3")
      .createOrReplaceTempView("ann_spec_qt_src")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.qtab")
    spark.sql(
      "CREATE TABLE ann_spec.ns.qtab AS SELECT * FROM ann_spec_qt_src")
    val ivf = spark.sql("SELECT qid, vec_id, d, rn FROM " +
      "ivf_search('ann_spec.ns.idx', 'ann_spec.ns.qtab', 6, 3) " +
      "ORDER BY qid, rn")
    val iopt = ivf.queryExecution.optimizedPlan.toString
    iopt should not include "LogicalRDD"
    iopt should not include "ExistingRDD"
    val irows = ivf.collect()
    irows.map(_.getAs[Long]("qid")).distinct.sorted shouldBe
      Array(0L, 1L, 2L)
    irows.filter(_.getAs[Int]("rn") == 1).foreach { r =>
      r.getAs[Long]("vec_id") shouldBe r.getAs[Long]("qid")
      r.getAs[Long]("d") shouldBe 0L
    }
    val pq = spark.sql("SELECT qid, rn, vec_id, adc_d FROM " +
      "pq_search('ann_spec.ns.p', 'ann_spec.ns.qtab', 3) " +
      "ORDER BY qid, rn")
    val prows = pq.collect()
    prows.map(_.getAs[Long]("qid")).distinct.sorted shouldBe
      Array(0L, 1L, 2L)
    // ADC ranks vs stored codes: self rows place in each top-3
    (0L to 2L).foreach { q =>
      prows.filter(_.getAs[Long]("qid") == q)
        .map(_.getAs[Long]("vec_id")) should contain(q)
    }
  }

  test("a failed build cleans its half-built tables: retry just works") {
    ensureCat()
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .createOrReplaceTempView("ann_spec_rb_src")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.rbidx_centroids")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.rbidx_assign")
    spark.sql("DROP TABLE IF EXISTS ann_spec.ns.rbemb")
    spark.sql(
      "CREATE TABLE ann_spec.ns.rbemb AS SELECT * FROM ann_spec_rb_src")
    // bogus vector column: the Lloyd job fails AFTER the table dirs
    // were allocated — the orphans must not block the corrected retry
    intercept[Exception] {
      spark.sql("CALL ann_spec.system.build_ivf_index(" +
        "'ns.rbemb', 'vec_id', 'no_such_col', 'ns.rbidx')")
    }
    val built = spark.sql("CALL ann_spec.system.build_ivf_index(" +
      "'ns.rbemb', 'vec_id', 'embedding', 'ns.rbidx')").head()
    built.getLong(1) shouldBe 8L
    spark.sql("SELECT * FROM ivf_search('ann_spec.ns.rbidx', 5)")
      .collect().length should be > 0
  }

  test("argument errors are loud") {
    ensureCat()
    // unbuilt index: the sidecar is required
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM ivf_search('ann_spec.ns.nope', 5)")
        .collect()
    }
    e1.getMessage should (include("ann") or include("nope"))
    // non-literal / wrong-arity arguments
    intercept[Exception] {
      spark.sql("SELECT * FROM ivf_search('ann_spec.ns.idx')").collect()
    }.getMessage should include("ivf_search")
  }

  test("manifestCount counts live rows once a delete sidecar exists") {
    val t = graft.operators.Catalog.tempDir("ann_spec_count")
    spark.range(0, 10).toDF("k").coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(t)
    val d = new java.io.File(t)
    GraftAnnIndex.manifestCount(spark, d) shouldBe 10L
    AvroMaintenance.deleteWhere(spark, t, "k", Seq(3L))
    GraftAnnIndex.manifestCount(spark, d) shouldBe 9L
    AvroMaintenance.deleteAtPositions(t,
      AvroFileSource.listAvro(d).head.getName, Seq(0L))
    GraftAnnIndex.manifestCount(spark, d) shouldBe 8L
  }
}
