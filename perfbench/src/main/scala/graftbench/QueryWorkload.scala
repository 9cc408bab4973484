package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window => SqlWindow}
import org.apache.spark.sql.functions._
import graft.db.{GraftDatabase, GraftSession}

/** `query`: a closed loop with one client sending short interactive
  * requests through `GraftSession` over read-only order-entry tables.
  * One operation is one request: build the query or pipeline, then run
  * its action. The request list is a fixed cycle of templates whose
  * constants come from the seed, so every seed runs the same mix. */
final class QueryWorkload(spark: SparkSession, tr: Trace, seed: Long)
    extends Workload {
  import QueryWorkload._

  private var root = ""
  private var sizes = Map.empty[String, Long]
  private lazy val requests = QueryWorkload.requests(seed, sizes)
  /** Results seen per request, checked after the window. */
  private val seen = scala.collection.mutable.Map.empty[Int,
    scala.collection.mutable.Set[Result]]
  /** Request index of each operation id. */
  private val requestOf = scala.collection.mutable.Map.empty[Int, Int]
  private var nextOp = 0

  def prepare(dir: String): Unit = {
    sizes = Data.orderTables(spark, dir, seed, Sf, 4)
    root = dir
  }

  private def db: GraftDatabase = new GraftSession(spark, root).db("bench")

  /** One pass over the request cycle; a request that fails here fails
    * again, and is counted, in the measured window. */
  override def warmup(): Unit = {
    val d = db
    requests.foreach(r => try r.build(d)() catch { case _: Exception => })
  }

  def measure(seconds: Double): Window = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRes]
    var busyMs = 0.0
    var i = 0
    val d = db
    // whole cycles only, so every run measures the same request mix,
    // and at least MinCycles, so that even a slow host's run has ten
    // samples beyond the tail percentile
    while (busyMs < seconds * 1000 || i < MinCycles * requests.size ||
        i % requests.size != 0) {
      val req = requests(i % requests.size)
      val id = nextOp; nextOp += 1
      requestOf(id) = i % requests.size
      val tag = s"q$id"
      tr.tagOps(Some(tag))
      var result: Option[Result] = None
      val r = Main.timed(id, req.name, req.docs, Some(tag)) {
        val act = tr.layer("db.build_ms")(req.build(d))
        result = Some(tr.layer("db.action_ms")(act()))
      }
      tr.tagOps(None)
      result.foreach(x => seen.getOrElseUpdate(i % requests.size,
        scala.collection.mutable.Set.empty) += x)
      if (tr.enabled) layerTimings(req, r)
      ops += r
      busyMs += r.ms
      i += 1
    }
    Window(ops.toSeq, busyMs)
  }

  /** Direct timings of the layers a request passed through, made after
    * the request and attributed to it. */
  private def layerTimings(req: Request, r: OpRes): Unit = {
    def at[T](name: String)(body: => T): Unit = {
      val t0 = System.nanoTime()
      body
      tr.layers.add(Trace.LayerRec(name, r.op.start,
        (System.nanoTime() - t0) / 1e6))
    }
    val path = s"$root/${req.coll}.parquet"
    at("sources.load_ms")(graft.sources.Tables.load(spark, path))
    val df = spark.read.parquet(path)
    req.filter.foreach(f => at("query.compile_ms") {
      graft.query.QueryCompiler.compile(f)
      req.projection.foreach(p =>
        graft.query.ProjectionCompiler.project(df, p))
    })
    req.pipeline.foreach(p => at("pipeline.compile_ms")(
      graft.pipeline.PipelineCompiler.compile(p,
        other => spark.read.parquet(s"$root/$other.parquet"))(df)))
  }

  /** Times the write-side layers `query` requests never touch, so
    * that a traced `query` run reports every layer. */
  override def layerReplay(w: Window): (Map[String, Double], Seq[String]) = {
    WriteLayers.replay(spark, tr, root,
      java.nio.file.Paths.get(root).resolveSibling("layer-replay").toString)
    (Map.empty, Nil)
  }

  def check(w: Window): Seq[String] = {
    val tables = sizes.keys.map(t =>
      t -> spark.read.parquet(s"$root/$t.parquet")).toMap
    val expected = requests.indices.map(i => i -> requests(i).ref(tables))
      .toMap
    val bad = requests.indices.filter(i =>
      seen.get(i).exists(_.exists(_ != expected(i)))).toSet
    w.ops.foreach(o => if (bad(requestOf(o.op.id))) o.failed = true)
    bad.toSeq.sorted.map(i => s"request ${requests(i).name}: got " +
      s"${seen(i).mkString(", ")}, reference ${expected(i)}")
  }
}

object QueryWorkload {
  /** Scale of the read-only tables. The engine's fixtures run at sf
    * 0.1; this workload has not been measured there. */
  val Sf = 0.02

  /** Cycles a window measures at the least: 4 × 13 requests keep 13
    * samples beyond the nearest-rank p75. */
  val MinCycles = 4

  /** What a request returned, reduced to a count and a digest. */
  type Result = (Long, Long)

  /** A request: how to build it through the engine (returning its
    * action), its plain Spark reference, the collection it reads, and
    * the documents it was given, for the direct compile timings. */
  final case class Request(name: String, coll: String, docs: Long,
      build: GraftDatabase => (() => Result),
      ref: Map[String, DataFrame] => Result,
      filter: Option[Map[String, Any]] = None,
      projection: Option[Map[String, Any]] = None,
      pipeline: Option[Seq[Map[String, Any]]] = None)

  private def rows(rs: Seq[Row]): Result = Main.digest(rs)
  private def ordered(rs: Seq[Row]): Result =
    Main.digest(rs.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i) })

  /** One request per template, with constants drawn from `seed`. */
  def requests(seed: Long, sizes: Map[String, Long]): IndexedSeq[Request] = {
    val rnd = new scala.util.Random(seed)
    val nOrders = sizes("orders")
    locally {
      val status = Seq("F", "O", "P")(rnd.nextInt(3))
      val lo = 20000.0 + rnd.nextInt(400) * 1000.0
      val key = 1L + rnd.nextInt(nOrders.toInt - 1000)
      val inKeys = Seq.fill(20)(1L + rnd.nextInt(nOrders.toInt))
      val color = Data.Colors(rnd.nextInt(Data.Colors.size))
      val score = rnd.nextInt(95)
      val seg = Data.Segments(rnd.nextInt(Data.Segments.size)).toLowerCase
      val skip = rnd.nextInt(100)
      val etype = Data.EventTypes(rnd.nextInt(Data.EventTypes.size))
      val value = rnd.nextInt(400).toDouble
      val flag = Seq("R", "A", "N")(rnd.nextInt(3))
      val qty = 10.0 + rnd.nextInt(40)
      val user = 100L + rnd.nextInt(400)
      val size = 5 + rnd.nextInt(40)

      val rangeFilter = Map[String, Any]("o_orderstatus" -> status,
        "o_totalprice" -> Map("$gte" -> lo, "$lt" -> (lo + 20000.0)))
      val elemFilter = Map[String, Any](
        "o_scores" -> Map("$elemMatch" -> Map("$gte" -> score,
          "$lt" -> (score + 3))),
        "o_orderkey" -> Map("$lt" -> 20000L))
      val sliceDoc = Map[String, Any]("o_orderkey" -> 1,
        "o_scores" -> Map("$slice" -> 2))
      val groupPipe = Seq[Map[String, Any]](
        Map("$match" -> Map("l_returnflag" -> flag,
          "l_quantity" -> Map("$lte" -> qty))),
        Map("$group" -> Map("_id" -> "$l_linestatus",
          "qty" -> Map("$sum" -> "$l_quantity"),
          "n" -> Map("$sum" -> 1))),
        Map("$sort" -> Map("_id" -> 1)))
      val lookupPipe = Seq[Map[String, Any]](
        Map("$match" -> Map("o_orderkey" -> Map("$gte" -> key,
          "$lt" -> (key + 300)))),
        Map("$lookup" -> Map("from" -> "customer",
          "localField" -> "o_custkey", "foreignField" -> "c_custkey",
          "as" -> "c")),
        Map("$unwind" -> "$c"),
        Map("$project" -> Map("o_orderkey" -> 1,
          "seg" -> "$c.c_mktsegment")))
      val facetPipe = Seq[Map[String, Any]](
        Map("$match" -> Map("user_id" -> Map("$lte" -> user))),
        Map("$facet" -> Map(
          "byType" -> Seq(Map("$group" -> Map("_id" -> "$event_type",
            "n" -> Map("$sum" -> 1)))),
          "top" -> Seq(Map("$sort" -> Map("value" -> -1, "event_id" -> 1)),
            Map("$limit" -> 3), Map("$project" -> Map("event_id" -> 1))))))
      val bucketPipe = Seq[Map[String, Any]](
        Map("$match" -> Map("p_size" -> Map("$lte" -> size))),
        Map("$bucketAuto" -> Map("groupBy" -> "$p_retailprice",
          "buckets" -> 5)))
      val windowPipe = Seq[Map[String, Any]](
        Map("$match" -> Map("l_orderkey" -> Map("$gte" -> key,
          "$lt" -> (key + 200)))),
        Map("$setWindowFields" -> Map("partitionBy" -> "$l_orderkey",
          "sortBy" -> Map("l_linenumber" -> 1),
          "output" -> Map("cumQty" -> Map("$sum" -> "$l_quantity",
            "window" -> Map("documents" -> Seq("unbounded", "current")))))),
        Map("$project" -> Map("l_orderkey" -> 1, "l_linenumber" -> 1,
          "cumQty" -> 1)))

      Seq(
        Request("find_range_sort", "orders", nOrders,
          d => { val q = d.c("orders").find(rangeFilter)
            .sort("-o_totalprice", "o_orderkey").limit(20)
            () => ordered(q.all()) },
          t => ordered(t("orders").where(col("o_orderstatus") === status &&
              col("o_totalprice") >= lo && col("o_totalprice") < lo + 20000)
            .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(20)
            .collect().toSeq),
          filter = Some(rangeFilter)),
        Request("find_id", "orders", nOrders,
          d => { val q = d.c("orders").findId(key, "o_orderkey")
            () => rows(Seq(q.one())) },
          t => rows(t("orders").where(col("o_orderkey") === key)
            .collect().toSeq),
          filter = Some(Map("o_orderkey" -> key))),
        Request("find_in_select", "lineitem", sizes("lineitem"),
          d => { val q = d.c("lineitem")
              .find(Map("l_orderkey" -> Map("$in" -> inKeys)))
              .select("l_orderkey", "l_linenumber", "l_quantity")
            () => rows(q.all()) },
          t => rows(t("lineitem").where(col("l_orderkey").isin(inKeys: _*))
            .select("l_orderkey", "l_linenumber", "l_quantity")
            .collect().toSeq),
          filter = Some(Map("l_orderkey" -> Map("$in" -> inKeys)))),
        Request("find_regex", "part", sizes("part"),
          d => { val q = d.c("part")
              .find(Map("p_name" -> Map("$regex" -> s"^$color ")))
              .sort("p_partkey").limit(50).select("p_partkey", "p_name")
            () => ordered(q.all()) },
          t => ordered(t("part").where(col("p_name").rlike(s"^$color "))
            .orderBy("p_partkey").limit(50).select("p_partkey", "p_name")
            .collect().toSeq),
          filter = Some(Map("p_name" -> Map("$regex" -> s"^$color ")))),
        Request("find_elem_slice", "orders", nOrders,
          d => { val q = d.c("orders").find(elemFilter).select(sliceDoc)
              .sort("o_orderkey").limit(30)
            () => ordered(q.all()) },
          t => ordered(t("orders").where(
              exists(col("o_scores"), s => s >= score && s < score + 3) &&
                col("o_orderkey") < 20000L)
            .orderBy("o_orderkey").limit(30)
            .select(col("o_orderkey"), slice(col("o_scores"), 1, 2)
              .as("o_scores")).collect().toSeq),
          filter = Some(elemFilter), projection = Some(sliceDoc)),
        Request("find_collation", "customer", sizes("customer"),
          d => { val q = d.c("customer").find(Map("c_mktsegment" -> seg))
              .collation(Map("locale" -> "en", "strength" -> 2))
              .sort("c_custkey").skip(skip).limit(25)
              .select("c_custkey", "c_mktsegment")
            () => ordered(q.all()) },
          t => ordered(t("customer").where(lower(col("c_mktsegment")) === seg)
            .orderBy("c_custkey").offset(skip).limit(25)
            .select("c_custkey", "c_mktsegment").collect().toSeq),
          filter = Some(Map("c_mktsegment" -> seg))),
        Request("count", "events", sizes("events"),
          d => { val q = d.c("events").find(Map("event_type" -> etype,
              "value" -> Map("$gt" -> value)))
            () => (q.count(), 0L) },
          t => (t("events").where(col("event_type") === etype &&
            col("value") > value).count(), 0L),
          filter = Some(Map("event_type" -> etype,
            "value" -> Map("$gt" -> value)))),
        Request("estimated_count", "lineitem", sizes("lineitem"),
          d => { val c = d.c("lineitem")
            () => (c.estimatedCount(), 0L) },
          t => (t("lineitem").count(), 0L)),
        Request("pipe_group", "lineitem", sizes("lineitem"),
          d => { val df = d.c("lineitem").pipe(groupPipe)
            () => ordered(df.collect().toSeq) },
          t => ordered(t("lineitem").where(col("l_returnflag") === flag &&
              col("l_quantity") <= qty)
            .groupBy(col("l_linestatus").as("_id"))
            .agg(sum("l_quantity").as("qty"), count(lit(1)).as("n"))
            .orderBy("_id").collect().toSeq),
          pipeline = Some(groupPipe)),
        Request("pipe_lookup", "orders", nOrders + sizes("customer"),
          d => { val df = d.c("orders").pipe(lookupPipe)
            () => rows(df.collect().toSeq) },
          t => rows(t("orders").where(col("o_orderkey") >= key &&
              col("o_orderkey") < key + 300)
            .join(t("customer"), col("o_custkey") === col("c_custkey"))
            .select(col("o_orderkey"), col("c_mktsegment").as("seg"))
            .collect().toSeq),
          pipeline = Some(lookupPipe)),
        Request("pipe_facet", "events", sizes("events"),
          d => { val df = d.c("events").pipe(facetPipe)
            () => facet(df.collect().head) },
          t => {
            val e = t("events").where(col("user_id") <= user)
            val by = e.groupBy(col("event_type").as("_id"))
              .agg(count(lit(1)).as("n")).collect().map(_.toString).sorted
            val top = e.orderBy(desc("value"), asc("event_id")).limit(3)
              .select("event_id").collect().map(_.toString)
            (by.length.toLong, Main.hash64(by.mkString + "|" +
              top.mkString))
          },
          pipeline = Some(facetPipe)),
        Request("pipe_bucket_auto", "part", sizes("part"),
          d => { val df = d.c("part").pipe(bucketPipe)
            () => {
              val rs = df.collect().toSeq
              (rs.size.toLong, rs.map(r =>
                r.getAs[Number]("count").longValue).sum)
            } },
          t => (5L, t("part").where(col("p_size") <= size).count()),
          pipeline = Some(bucketPipe)),
        Request("pipe_window", "lineitem", sizes("lineitem"),
          d => { val df = d.c("lineitem").pipe(windowPipe)
            () => rows(df.collect().toSeq) },
          t => rows(t("lineitem").where(col("l_orderkey") >= key &&
              col("l_orderkey") < key + 200)
            .withColumn("cumQty", sum("l_quantity").over(
              SqlWindow.partitionBy("l_orderkey").orderBy("l_linenumber")
                .rowsBetween(SqlWindow.unboundedPreceding,
                  SqlWindow.currentRow)))
            .select("l_orderkey", "l_linenumber", "cumQty")
            .collect().toSeq),
          pipeline = Some(windowPipe))).toIndexedSeq
    }
  }

  /** `$facet` result: the group counts as a set, the top list in order. */
  private def facet(r: Row): Result = {
    val by = r.getAs[scala.collection.Seq[Row]]("byType").map(_.toString).sorted
    val top = r.getAs[scala.collection.Seq[Row]]("top").map(_.toString)
    (by.length.toLong, Main.hash64(by.mkString + "|" + top.mkString))
  }
}
