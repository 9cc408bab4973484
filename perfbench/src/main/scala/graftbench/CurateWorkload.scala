package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup}
import graft.streaming.StreamingMigrations

/** `curate`: LLM-data curation on a seeded synthetic corpus split into
  * ordered parquet drops. Each round runs two streams one after the
  * other over the drops, one drop per trigger with `AvailableNow`:
  * `incrementalNearDupStream` (minhash against the band store) and
  * `embedCurateStream` (against the bucket store). One operation is one
  * micro-batch, timed by the stream's own progress events. The crawl
  * preset (`webCurateIncremental`) is timed in traced runs only.
  *
  * The streams take `Drops` drops. One more, late drop is generated
  * with them and kept out of the source: traced runs replay it through
  * the curation functions and feed it to the streams as a third batch,
  * which on this engine fails (see NOTES.md). */
final class CurateWorkload(spark: SparkSession, tr: Trace, seed: Long)
    extends Workload {
  import CurateWorkload._

  private var dir = ""
  private var corpus: Data.Corpus = _
  /** Roots of the rounds not yet checked, with their operation ids. */
  private val rounds = scala.collection.mutable.ArrayBuffer
    .empty[(String, Seq[Int])]
  private var roundNo = 0
  private var nextOp = 0

  private def source = s"$dir/source"
  private def late = s"$dir/late-drop.parquet"
  private def bench: Option[(DataFrame, String, String)] =
    Some((spark.read.parquet(s"$dir/bench.parquet"), "bench_id",
      "embedding"))

  def prepare(d: String): Unit = {
    corpus = Data.corpus(spark, s"$d/drops", seed, Drops + 1, PerDrop)
    // one file per drop in one directory, oldest first, so the file
    // source takes the drops in order, one per trigger; the late drop
    // waits beside it
    Files.createDirectories(Paths.get(s"$d/source"))
    val t0 = System.currentTimeMillis() - 3600L * 1000
    corpus.dropDirs.zipWithIndex.foreach { case (dd, i) =>
      val part = new File(dd).listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val target = Paths.get(if (i < Drops) s"$d/source/drop-$i.parquet"
        else s"$d/late-drop.parquet")
      Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
      target.toFile.setLastModified(t0 + i * 10000L)
    }
    Data.benchVectors(spark, seed, 16).write.mode("overwrite")
      .parquet(s"$d/bench.parquet")
    dir = d
  }

  private def stream(): DataFrame =
    StreamingMigrations.readStream(spark, source,
      spark.read.parquet(source).schema, maxFilesPerTrigger = Some(1))

  /** Starts stream `kind` over the drops, with its state under `root`. */
  private def start(kind: String, root: String) = kind match {
    case "minhash" => StreamingMigrations.incrementalNearDupStream(stream(),
      "doc_id", "text", s"$root/minhash/store", s"$root/minhash/pairs",
      s"$root/minhash/ckpt")
    case "embed" => StreamingMigrations.embedCurateStream(stream(),
      "doc_id", "embedding", "quality", DupThreshold, s"$root/embed/store",
      s"$root/embed/out", s"$root/embed/ckpt", bench = bench,
      deconThreshold = DeconThreshold, blockTables = BlockTables,
      blockPlanes = BlockPlanes, dim = Data.Dim,
      sampleFraction = SampleFraction)
  }

  def measure(seconds: Double): Window = {
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRes]
    var busyMs = 0.0
    while (busyMs < seconds * 1000) {
      val root = s"$dir/round-$roundNo"
      roundNo += 1
      val done = scala.collection.mutable.ArrayBuffer.empty[OpRes]
      for (kind <- Streams) {
        tr.tagOps(None)
        val t0 = System.currentTimeMillis()
        val q = start(kind, root)
        var error: Option[String] = None
        try q.awaitTermination()
        catch { case e: Exception => error = Some(e.toString.take(300)) }
        val t1 = System.currentTimeMillis()
        busyMs += t1 - t0
        tr.drain()
        val batches = tr.batches.asScala.filter(_.queryId == q.id.toString)
          .toSeq.sortBy(_.batchId)
        val mine = batches.map { b =>
          val id = nextOp; nextOp += 1
          new OpRes(Stats.Op(id, b.start,
              b.start + b.ms("triggerExecution").toLong, Some(b.tag)),
            s"$kind:${b.batchId}", PerDrop)
        }
        done ++= mine
        // a stream that stopped early failed in the batch after its last
        // completed one: that batch is an attempted, failed operation
        // that processed no documents
        if (error.isDefined || batches.size != Drops) {
          val id = nextOp; nextOp += 1
          val from = mine.lastOption.map(_.op.end).getOrElse(t0)
          done += new OpRes(Stats.Op(id, from, t1), s"$kind:${batches.size}",
            0L, failed = true, error = error.orElse(
              Some(s"${batches.size} batches for $Drops drops")))
        }
      }
      rounds += root -> done.map(_.op.id).toSeq
      ops ++= done
    }
    Window(ops.toSeq, busyMs)
  }

  private def all: DataFrame = spark.read.parquet(source)

  /** Shares of the planted text pairs within the streamed drops, exact
    * and all, among `pairs`. */
  private def recall(pairs: DataFrame): (Double, Double) = {
    val found = pairs.collect()
      .map(r => Set(r.getLong(0), r.getLong(1))).toSet
    val streamed = corpus.textDups
      .filter(p => math.max(p.base, p.dup) < Drops.toLong * PerDrop)
    def share(ps: Seq[Data.Planted]) =
      if (ps.isEmpty) 1.0
      else ps.count(p => found(Set(p.base, p.dup))).toDouble / ps.size
    (share(streamed.filter(_.exact)), share(streamed))
  }

  def check(w: Window): Seq[String] = {
    // the one-shot reference, computed only for a round whose stream
    // finished (reading a missing final batch throws first)
    lazy val embed = Main.tableDigest(Curation.embedCurate(all, "doc_id",
        "embedding", "quality", DupThreshold, bench, DeconThreshold,
        BlockTables, BlockPlanes, Data.Dim, SampleFraction)
      .select(EmbedCols.map(col): _*))
    val failures = rounds.flatMap { case (root, opIds) =>
      def expect(kind: String)(check: => Option[String]): Option[String] = {
        val failure =
          try check catch { case e: Exception => Some(e.toString.take(200)) }
        failure.foreach(_ => w.ops.filter(o => opIds.contains(o.op.id) &&
          o.label.startsWith(kind + ":")).foreach(_.failed = true))
        failure.map(m => s"$root $kind: $m")
      }
      expect("minhash") {
        val (exact, _) = recall(spark.read.parquet(s"$root/minhash/pairs")
          .select("new_id", "ref_id"))
        if (exact == 1.0) None
        else Some(s"recall on planted exact groups $exact")
      } ++ expect("embed") {
        val got = Main.tableDigest(spark.read.parquet(
            s"$root/embed/out/batch=${Drops - 1}")
          .select(EmbedCols.map(col): _*))
        if (got == embed) None else Some(s"curated $got, one-shot $embed")
      }
    }
    lastRoot = rounds.lastOption.map(_._1)
    rounds.clear()
    failures.toSeq
  }
  private var lastRoot: Option[String] = None

  /** Replays the late drop through the curation functions: the crawl
    * preset against key stores bootstrapped here from the streamed drops,
    * minhash pairing and embedding curation against the stores the last
    * checked round's streams built. Then feeds the late drop to that
    * round's streams as their next batch. */
  override def layerReplay(w: Window): (Map[String, Double], Seq[String]) = {
    val root = lastRoot.getOrElse(return (Map.empty, Nil))
    val last = Drops
    val drop = spark.read.parquet(late)
    // each prior batch directory is read on its own and the frames
    // unioned, so the replay does not depend on partition discovery
    // across batch directories
    def union(dirs: Seq[String]) = dirs.map(spark.read.parquet(_))
      .reduce(_ unionByName _)
    def prior(sub: String) =
      union((0 until last).map(b => s"$root/$sub/batch=$b"))
    def time(name: String)(body: => Long): Option[Long] = {
      val t0 = System.nanoTime()
      try Some(body).map { n =>
        tr.record(name, (System.nanoTime() - t0) / 1e6); n
      } catch { case e: Exception =>
        Main.err(s"$name replay failed: ${e.toString.take(200)}"); None
      } finally Dedup.releaseCaches()
    }
    val keys = s"$root/web-keys"
    val boot = Curation.webCurateBootstrap(
      union((0 until last).map(d => s"$source/drop-$d.parquet")),
      "doc_id", "url", "html", targetLang = "en", minQuality = MinQuality)
    boot.newUrlKeys.write.mode("overwrite").parquet(s"$keys/url")
    boot.newContentKeys.write.mode("overwrite").parquet(s"$keys/content")
    time("ops.web_curate_ms")(Curation.webCurateIncremental(drop,
      spark.read.parquet(s"$keys/url"), spark.read.parquet(s"$keys/content"),
      "doc_id", "url", "html", targetLang = "en", minQuality = MinQuality)
      .curated.count())
    val pairs = time("ops.minhash_pairs_ms")(
      Dedup.minhashLshPairsBetweenPrecomputed(drop, prior("minhash/store"),
        "doc_id", "text").count())
    time("ops.embed_curate_ms")(Curation.embedCurateIncremental(drop,
      prior("embed/store/docs"), prior("embed/store/buckets"),
      spark.read.parquet(s"$root/embed/store/labels/batch=${last - 1}"),
      spark.read.parquet(s"$root/embed/store/resolved/batch=${last - 1}"),
      "doc_id", "embedding", "quality", DupThreshold, bench,
      DeconThreshold, BlockTables, BlockPlanes, Data.Dim, SampleFraction)
      .curated.count())
    val recalled = recall(spark.read.parquet(s"$root/minhash/pairs")
      .select("new_id", "ref_id"))._2
    val lateFailures = lateBatchFailures(root)
    (Map("ops.pairs_out" -> pairs.getOrElse(0L).toDouble,
      "ops.dup_recall" -> recalled,
      "streaming.late_batch_failures" -> lateFailures.toDouble), Nil)
  }

  /** Moves the late drop into the source and restarts each of `root`'s
    * streams from its checkpoint, so that the drop becomes their batch
    * `Drops`, read against a store of `Drops` batch directories. Returns
    * how many streams did not complete that batch. */
  private def lateBatchFailures(root: String): Int = {
    Files.move(Paths.get(late), Paths.get(s"$source/drop-$Drops.parquet"))
    Streams.count { kind =>
      val q = start(kind, root)
      val error =
        try { q.awaitTermination(); None }
        catch { case e: Exception =>
          Some(e.toString.linesIterator.next().take(300)) }
      tr.drain()
      val done = tr.batches.asScala.exists(b =>
        b.queryId == q.id.toString && b.batchId == Drops)
      val outcome = error.map("threw " + _).getOrElse(
        if (done) "completed" else "did not run")
      println(s"[perfbench] late batch $Drops of the $kind stream: $outcome")
      !done || error.isDefined
    }
  }
}

object CurateWorkload {
  val Streams = Seq("minhash", "embed")
  val Drops = 2
  val PerDrop = 1500
  val MinQuality = 0.3
  val DupThreshold = 0.9
  val DeconThreshold = 0.8
  val BlockTables = 4
  val BlockPlanes = 12
  val SampleFraction = 0.9
  val EmbedCols = Seq("doc_id", "component", "cluster_size")
}
