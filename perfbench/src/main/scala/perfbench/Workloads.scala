package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.JobRunner
import graft.apps.InvertedIndex
import graft.core.MapReduce
import graft.ext.{Dedup, Incremental, Ivf, LakeTxn, Similarity}
import graft.sources.TextCorpus
import graft.text.Tokenize

/** Inputs and expectations the generator wrote next to the data. */
final class Params(dir: Path) {
  private val props = {
    val p = new java.util.Properties()
    val in = Files.newInputStream(dir.resolve("params.properties"))
    try p.load(in) finally in.close()
    p
  }
  def str(k: String): String =
    Option(props.getProperty(k)).getOrElse(sys.error(s"params.properties lacks $k"))
  def long(k: String): Long = str(k).toLong
  def int(k: String): Int = str(k).toInt
  def double(k: String): Double = str(k).toDouble
  def longs(k: String): Seq[Long] = str(k).split(',').filter(_.nonEmpty).map(_.toLong).toSeq
  def path(k: String): String = dir.resolve(str(k)).toString
  def paths(k: String): Seq[String] = str(k).split(',').filter(_.nonEmpty).map(dir.resolve(_).toString).toSeq
}

trait Workload {
  /** One pass of the workload's whole operation sequence. */
  def pass(c: Ctx): Unit
  /** Checks that need a session but not a pass (run once, after set-up). */
  def runChecks(c: Ctx): Unit = ()
  /** Least number of untimed warm-up passes, the cold first one included. */
  def warmupPasses: Int = 1
}

object Workload {
  def apply(name: String, p: Params, work: Path): Workload = name match {
    case "mapreduce" => new MapReduceWorkload(p, work)
    case "dedup" => new DedupWorkload(p)
    case "lake" => new LakeWorkload(p, work)
    case other => sys.error(s"unknown workload $other")
  }

  /** Fully materialise a frame without returning rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def sha256(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Lines of the text files a sink wrote, in file-name order. */
  def sinkLines(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala)

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

import Workload._

/** The paper's journey: word count and inverted index as registry jobs
  * over text files, each ending in the `word - [value]` sink. */
final class MapReduceWorkload(p: Params, work: Path) extends Workload {
  private val files = p.paths("files")
  private val tokens = p.long("tokens")
  private val words = p.long("distinct_words")
  private val wcDigest = p.str("wc_digest")
  private val CntOf = """ - \[(\d+)\]$""".r.unanchored
  private val PostingCnt = """":(\d+)""".r

  private def out(op: String): String = work.resolve(s"sink_$op").toString

  // a pass falls from about 2.4 s to 1.3 s over the four passes after the
  // cold one (4-core VM); the warm-up takes the steepest two
  override def warmupPasses: Int = 3

  def pass(c: Ctx): Unit = {
    job(c, "wc", "map_wc", "reduce_wc")
    job(c, "ii", "map_id", "reduce_id")
  }

  private def job(c: Ctx, op: String, mapFn: String, reduceFn: String): Unit = {
    val spark = c.spark
    def docs = TextCorpus.read(spark, files)
    val scan = c.probe(op, "sources.scan")(noop(docs))
    val tok = c.probe(op, "text.tokenize", scan)(noop(Tokenize.tokenize(docs)))
    val mr = c.probe(op, "core.mapreduce", tok)(noop(MapReduce.run(docs, mapFn, reduceFn)))
    if (op == "ii") c.side(op, "apps.postings")(noop(InvertedIndex.postings(docs)))
    c.op(op, "sources.sink", mr)(JobRunner.run(spark, files, 0, 0, mapFn, reduceFn, out(op)))
    c.check(s"$op.sink") {
      val lines = sinkLines(out(op))
      val counted = lines.map {
        case l if op == "wc" => l match { case CntOf(n) => n.toLong; case _ => -1L }
        case l => PostingCnt.findAllMatchIn(l).map(_.group(1).toLong).sum
      }.sum
      val digestOk = op != "wc" || sha256(lines.iterator) == wcDigest
      (lines.length == words && counted == tokens && digestOk,
        s"lines=${lines.length}/$words counted=$counted/$tokens digestOk=$digestOk")
    }
  }

  /** The word count again through the executable tokenizer spec. */
  override def runChecks(c: Ctx): Unit = c.check("wc.spec_digest") {
    val spec = TextCorpus.read(c.spark, files)
      .select(explode(Tokenize.tokensArraySpec(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt")).orderBy("w")
      .collect().iterator.map(r => s"${r.getString(0)} - [${r.getLong(1)}]")
    val d = sha256(spec)
    (d == wcDigest, s"spec=$d expected=$wcDigest")
  }
}

/** LLM-data dedup: MinHash near-dup clusters, suffix-array duplicate
  * spans and IVF top-k over planted embeddings. */
final class DedupWorkload(p: Params) extends Workload {
  // a pass falls from about 8.2 s to 6.0 s over the six passes after the
  // cold one (4-core VM); the warm-up takes only the steepest, as the rest
  // of the slope does not fit the run-time budget
  override def warmupPasses: Int = 2
  private val docsPath = p.path("docs")
  private val suffixPath = p.path("suffix_docs")
  private val embPath = p.path("embeddings")
  private val planted: Seq[(Long, Long)] = p.longs("planted_pairs").grouped(2).map(s => (s(0), s(1))).toSeq
  private val exactCopies: Seq[(Long, Long)] = p.longs("suffix_copies").grouped(2).map(s => (s(0), s(1))).toSeq
  private val queries = p.longs("queries")
  private val k = p.int("k")
  private val nlist = p.int("nlist")
  private val nprobe = p.int("nprobe")
  private val iters = p.int("iters")
  private val recallFloor = p.double("neardup_recall_floor")
  private val annFloor = p.double("ann_recall_floor")
  private var clusterDigest: Option[String] = None
  private var spanDigest: Option[String] = None
  private var exact: Option[Array[Row]] = None

  def pass(c: Ctx): Unit = { neardup(c); suffix(c); ann(c) }

  private def stable(name: String, seen: Option[String], d: String): (Boolean, String) =
    (seen.forall(_ == d), s"$name digest $d, first pass ${seen.getOrElse(d)}")

  private def neardup(c: Ctx): Unit = {
    val spark = c.spark
    def docs = spark.read.parquet(docsPath)
    val scan = c.probe("neardup", "sources.scan")(noop(docs))
    val sh = c.probe("neardup", "functions.shingle", scan)(noop(Dedup.shingleRows(docs)))
    val cand = c.probe("neardup", "dedup.candidates", sh) {
      c.value("dedup.candidates", Dedup.minhashCandidates(docs, baseHash = Dedup.polyHash).collect().length)
    }
    val ver = c.probe("neardup", "dedup.verify", cand) {
      c.value("dedup.pairs", Dedup.minhashNearDuplicates(docs, baseHash = Dedup.polyHash).collect().length)
    }
    val rows = c.op("neardup", "dedup.cluster", ver) {
      Dedup.nearDupClusters(docs, 0.7, Dedup.polyHash).collect()
    }
    c.check("neardup.recall") {
      val label = rows.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val hit = planted.count { case (a, b) => label.get(a).exists(label.get(b).contains) }
      val recall = hit.toDouble / planted.length
      c.value("neardup_recall", recall)
      (label.size == rows.length && recall >= recallFloor,
        s"recall=$recall floor=$recallFloor rows=${rows.length}")
    }
    c.check("neardup.digest") {
      val d = sha256(rows.iterator.map(r => s"${r.getLong(0)},${r.getLong(1)}"))
      val r = stable("cluster", clusterDigest, d); clusterDigest = Some(d); r
    }
  }

  private def suffix(c: Ctx): Unit = {
    val spark = c.spark
    def docs = spark.read.parquet(suffixPath)
    val scan = c.probe("suffix", "sources.scan")(noop(docs))
    val ranks = c.probe("suffix", "suffix.ranks", scan)(noop(Dedup.suffixWindowRanks(docs, 8)))
    val rows = c.op("suffix", "suffix.spans", ranks)(Dedup.suffixDuplicateSpans(docs, 8).collect())
    c.check("suffix.copies") {
      // an exact copy of an n-token document is one duplicate span [0, n)
      val spans = rows.iterator.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val missing = exactCopies.filterNot { case (doc, n) => spans.contains((doc, 0L, n)) }
      (missing.isEmpty, s"${missing.length} of ${exactCopies.length} copies lack a whole-document span")
    }
    c.check("suffix.digest") {
      val d = sha256(rows.iterator.map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}"))
      val r = stable("span", spanDigest, d); spanDigest = Some(d); r
    }
  }

  private def ann(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    def emb = spark.read.parquet(embPath)
    def pairs(rows: Array[Row]): DataFrame =
      rows.toSeq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .toDF("query_id", "neighbor_id")
    val scan = c.probe("ann", "sources.scan")(noop(emb))
    val train = c.probe("ann", "ann.train", scan)(Ivf.trainCentroids(emb, nlist, iters))
    val ivf = c.op("ann", "ann.search", train)(Ivf.ivfTopK(emb, queries, k, nlist, nprobe, iters).collect())
    c.side("ann", "ann.exact")(Similarity.bruteForceTopK(emb, queries, k).collect())
    c.check("ann.recall") {
      // the exact neighbours are the oracle: computed once per run, untimed
      val ex = exact.getOrElse(Similarity.bruteForceTopK(emb, queries, k).collect())
      exact = Some(ex)
      val rep = Similarity.recallReport(pairs(ivf), pairs(ex)).collect()
      val recall = rep.map(_.getAs[Double]("recall")).sum / math.max(rep.length, 1)
      c.value("ann_recall", recall)
      (rep.length == queries.length && recall >= annFloor, s"recall@$k=$recall floor=$annFloor")
    }
  }
}

/** A transactional table under appends, copy-on-write and merge-on-read
  * change batches, reads after every write, one compaction and one
  * lake-to-lake stream. Every pass starts from an empty table. */
final class LakeWorkload(p: Params, work: Path) extends Workload {
  private val appends = p.paths("appends")
  private val changes = p.paths("changes")
  private val kinds = p.str("change_kinds").split(',').toSeq
  private val changelog = p.path("changelog")
  private val expectRows = p.longs("expect_rows")
  private val expectIdSum = p.longs("expect_id_sum")
  private val expectChars = p.longs("expect_chars")
  private val expectSel = p.longs("expect_sel")
  private val (selLo, selHi) = (p.long("sel_lo"), p.long("sel_hi"))
  private val userBytes = p.long("user_bytes")
  private val streamAfter = p.int("stream_after")
  private val Cols = Seq("doc_id", "grp", "text", "n_chars")
  private var replayDigest: Option[(Long, Long, Long)] = None

  // a pass is some 60 small Spark jobs, mostly driver-side planning and
  // commit work; it falls from about 5.7 s to 4.4 s over the five passes
  // after the cold one (4-core VM); the warm-up takes the steepest two
  override def warmupPasses: Int = 3

  def pass(c: Ctx): Unit = {
    val spark = c.spark
    val dir = work.resolve(s"lake_p${c.pass}")
    val t = dir.resolve("table").toString
    var compacted = false

    // reads of the state after write `step` (appends first, then changes)
    def reads(step: Int): Unit = {
      val layer = if (compacted) "lake.read_compacted" else "lake.read_mor"
      c.side("read_agg", "lake.snapshot")(LakeTxn.snapshot(spark, t))
      val agg = c.op("read_agg", layer) {
        LakeTxn.read(spark, t).agg(count(lit(1)), sum("doc_id"), sum("n_chars")).collect()(0)
      }
      c.check("lake.read_agg") {
        val got = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
        val want = (expectRows(step), expectIdSum(step), expectChars(step))
        (got == want, s"step $step: got $got want $want")
      }
      c.side("read_sel", "lake.snapshot")(LakeTxn.snapshot(spark, t))
      val sel = c.op("read_sel", layer) {
        LakeTxn.read(spark, t).filter(col("doc_id").between(selLo, selHi)).collect()
      }
      c.check("lake.read_sel")((sel.length == expectSel(step), s"step $step: ${sel.length} rows, want ${expectSel(step)}"))
    }

    appends.zipWithIndex.foreach { case (a, i) =>
      if (i > 0) c.side("append", "lake.snapshot")(LakeTxn.snapshot(spark, t))
      c.op("append", "lake.append")(LakeTxn.appendCommit(spark, spark.read.parquet(a), t))
      if (i == streamAfter) stream(c, t, dir, i)
    }
    reads(appends.length - 1)
    changes.zip(kinds).zipWithIndex.foreach { case ((ch, kind), i) =>
      c.side(s"merge_$kind", "lake.snapshot")(LakeTxn.snapshot(spark, t))
      if (kind == "cow")
        c.op("merge_cow", "lake.merge_cow")(LakeTxn.applyChanges(spark, t, spark.read.parquet(ch), "doc_id"))
      else
        c.op("merge_mor", "lake.merge_mor")(LakeTxn.applyChangesMor(spark, t, spark.read.parquet(ch), "doc_id"))
      reads(appends.length + i)
    }
    c.untimed("lake.files") {
      val snap = LakeTxn.snapshot(spark, t)
      c.value("lake.live_files", snap.adds.length)
      c.value("lake.dv_files", snap.dvs.length)
    }
    c.side("compact", "lake.snapshot")(LakeTxn.snapshot(spark, t))
    c.op("compact", "lake.compact")(LakeTxn.compactCommit(spark, t, 128L << 20))
    compacted = true
    reads(appends.length + changes.length - 1) // compaction changes no rows
    c.check("lake.replay") {
      // the replay depends only on the change log: computed once per run
      val want = replayDigest.getOrElse {
        val log = spark.read.parquet(changelog)
        val base = log.select(Cols.map(col): _*).limit(0)
        digest(Incremental.applyChanges(base, log, Cols.tail, "doc_id", "seq", "op"))
      }
      replayDigest = Some(want)
      val got = digest(LakeTxn.read(spark, t))
      val snap = LakeTxn.snapshot(spark, t)
      val written = dirBytes(t)
      val live = snap.adds.map(a => Files.size(Paths.get(t, a.file))).sum
      c.value("lake.log_versions", snap.version + 1)
      c.value("lake.bytes_written_mb", written / 1e6)
      c.value("lake.bytes_live_mb", live / 1e6)
      c.value("write_amp", written.toDouble / userBytes)
      (got == want, s"table $got, replay $want")
    }
  }

  /** Order-free content digest: row count plus two hash folds. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(Cols.map(col): _*)
    val r = df.select(Cols.map(col): _*)
      .agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFL))), bit_xor(h)).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** One lake-to-lake stream over the versions written so far (appends
    * 0..`step`), one commit per epoch; the destination must hold every
    * source row exactly once. */
  private def stream(c: Ctx, src: String, dir: Path, step: Int): Unit = {
    val spark = c.spark
    val dst = dir.resolve("stream_dst").toString
    val progress = c.op("stream", "stream.pass") {
      LakeTxn.createTable(spark, dst, LakeTxn.read(spark, src).schema)
      val q = spark.readStream.format("graft-lake")
        .option("maxVersionsPerBatch", 1)
        .load(src)
        .writeStream.outputMode("append")
        .format("graft-lake")
        .option("txnAppId", "perfbench")
        .option("checkpointLocation", dir.resolve("stream_ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
      q.recentProgress
    }
    progress.filter(_.numInputRows > 0).foreach(pr =>
      c.value("stream_batch_ms", pr.durationMs.get("triggerExecution").doubleValue))
    c.check("stream.exactly_once") {
      val r = LakeTxn.read(spark, dst)
        .agg(count(lit(1)), countDistinct(col("doc_id")), sum("doc_id")).collect()(0)
      val got = (r.getLong(0), r.getLong(1), r.getLong(2))
      val want = (expectRows(step), expectRows(step), expectIdSum(step))
      (got == want, s"destination $got, source $want")
    }
  }
}
