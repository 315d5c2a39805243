package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}

/** Minimal end-to-end drive of the projection engine against the parquet
  * testdata — `sbt "runMain graft.Demo"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    import graft.sql.GraftSql.implicits._
    val spark = LocalSession("4", "ERROR")

    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val customer = spark.read.parquet(s"$sf/customer.parquet")

    println("== flatten: rename + star exclusion ==")
    customer.sql("SELECT c_mktsegment as segment, *").show(3, truncate = false)

    println("== nested flatten: dotted path through a built struct ==")
    val nested = customer.select(
      F.col("c_custkey"),
      F.struct(F.col("c_name").as("name"),
        F.struct(F.col("c_acctbal").as("bal")).as("account")).as("info"))
    nested.sql("SELECT c_custkey, info.account.bal as balance").show(3)

    println("== withstructure: cherry-pick inside the struct ==")
    val ws = nested.sql("SELECT c_custkey, info.account.bal withstructure")
    ws.printSchema()
    ws.show(3, truncate = false)

    println("== error contract ==")
    try customer.sql("SELECT c_bogus") catch {
      case e: IllegalArgumentException => println(s"missing field -> $e")
    }
    try nested.sql("SELECT info.nope.x") catch {
      case e: IllegalArgumentException => println(s"missing nested -> $e")
    }

    println("== physical plan of the flatten projection ==")
    customer.sql("SELECT c_name as name, c_acctbal as bal")
      .explain("formatted")

    println("== avro bridge: record.sql on a GenericRecord ==")
    locally {
      import org.apache.avro.SchemaBuilder
      import org.apache.avro.generic.GenericData
      import graft.avro.AvroSql.implicits._
      implicit val s: SparkSession = spark
      val street = SchemaBuilder.record("Street").namespace("demo")
        .fields().requiredString("name").endRecord()
      val addr = SchemaBuilder.record("Address").namespace("demo")
        .fields().name("street").`type`(street).noDefault()
        .requiredString("city").endRecord()
      val person = SchemaBuilder.record("Person").namespace("demo")
        .fields().requiredString("name")
        .name("address").`type`(addr).noDefault().endRecord()
      val st = new GenericData.Record(street); st.put("name", "Rose Ave")
      val ad = new GenericData.Record(addr); ad.put("street", st); ad.put("city", "Springfield")
      val p = new GenericData.Record(person); p.put("name", "Homer"); p.put("address", ad)
      val out = p.sql("SELECT name, address.street.name as streetName")
      println(s"in : $p")
      println(s"out: $out")
      println(s"out schema: ${out.getSchema}")

      // compiled per-record projector: plan once, no job per record
      val proj = new graft.avro.AvroProjector(spark, person,
        "SELECT name, address.street.name as streetName")
      proj(p) // warm codegen
      val n = 20000
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { proj(p); i += 1 }
      val us = (System.nanoTime() - t0) / 1e3 / n
      println(f"AvroProjector: $us%.1f us/record (${1e6 / us}%.0f rec/s single-thread)")
    }

    println("== llm pipeline: minhash near-dup pairs on documents ==")
    graft.operators.LlmDedup.queries("llm_dedup_minhash")(spark, sf).show(5)

    println("== llm pipeline: cosine top-3 (IVF cell probe, codegen'd vec_dot) ==")
    graft.operators.LlmSimilarity.queries("llm_similar_ivf")(spark, sf).show(5)

    println("== native top-k operator (custom LogicalPlan + Strategy + Exec) ==")
    graft.plans.GraftPlans.register(spark)
    val topk = graft.plans.GraftPlans.topKPerKey(
      spark.read.parquet(s"$sf/orders.parquet"),
      Seq(F.col("o_orderpriority")),
      Seq(F.col("o_totalprice").desc, F.col("o_orderkey")), 2)
    topk.orderBy(F.col("o_orderpriority"), F.col("o_totalprice").desc).show(6)

    println("== z-order clustering key (multi-dimensional layout) ==")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .select(F.col("l_orderkey"), (F.col("l_partkey") % 256).as("px"),
        (F.col("l_suppkey") % 256).as("sx"))
      .withColumn("zval",
        graft.functions.ZOrder.zvalue(F.col("px"), F.col("sx"), 8))
      .show(3)

    println("== shingles() table function (custom Generator UDTF) ==")
    graft.functions.VectorFunctions.register(spark)
    spark.read.parquet(s"$sf/documents.parquet")
      .limit(1).selectExpr("doc_id", "shingles(text, 3)").show(3, truncate = false)

    println("== SQL-only ANN: CALL build_ivf_index + ivf_search() TVF ==")
    spark.conf.set("spark.sql.catalog.demo",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.demo.root",
      graft.operators.Catalog.tempDir("demo_cat"))
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").createOrReplaceTempView("demo_emb")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS demo.ann")
    spark.sql("DROP TABLE IF EXISTS demo.ann.idx_centroids")
    spark.sql("DROP TABLE IF EXISTS demo.ann.idx_assign")
    spark.sql("DROP TABLE IF EXISTS demo.ann.emb")
    spark.sql("CREATE TABLE demo.ann.emb AS SELECT * FROM demo_emb")
    spark.sql("CALL demo.system.build_ivf_index(" +
      "'ann.emb', 'vec_id', 'embedding', 'ann.idx')").show()
    spark.sql("SELECT * FROM ivf_search('demo.ann.idx', 3, 6, 2) " +
      "ORDER BY qid, rn").show(6)

    println("== external query vector: ivf_search('idx', array(...)) ==")
    // a NEW embedding that is not a corpus row — no insert needed
    val qv = spark.sql("SELECT embedding FROM demo_emb WHERE vec_id = 0")
      .head().getSeq[Float](0)
      .map(f => java.math.BigDecimal.valueOf(f.toDouble).toPlainString)
      .mkString("array(", ", ", ")")
    spark.sql(s"SELECT * FROM ivf_search('demo.ann.idx', $qv, 6, 2) " +
      "ORDER BY rn").show(2)

    spark.stop()
  }
}
