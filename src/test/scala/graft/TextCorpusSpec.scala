package graft

import graft.core.MapReduce
import graft.sources.TextCorpus
import java.nio.file.Files

/** End-to-end reference pipeline: raw text files in, `word - [n]` lines
  * out, matching hand-computed counts; plus the parallelism knobs. */
class TextCorpusSpec extends SparkSpec {
  import spark.implicits._

  test("wordCountJob: files -> formatted final output") {
    val dir = Files.createTempDirectory("graft_corpus")
    Files.writeString(dir.resolve("a.txt"), "the cat sat\non the mat\n")
    Files.writeString(dir.resolve("b.txt"), "The DOG!\n")
    val out = dir.resolve("out").toString
    TextCorpus.wordCountJob(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"), out)
    val lines = spark.read.textFile(out).collect().toSeq
    assert(lines.contains("the - [3]"))
    assert(lines.contains("dog - [1]"))
    assert(lines.size == 6) // the cat sat on mat dog
  }

  test("read tags rows with originating file name") {
    val dir = Files.createTempDirectory("graft_corpus2")
    Files.writeString(dir.resolve("x.txt"), "alpha beta\n")
    val rows = TextCorpus.read(spark, Seq(s"$dir/x.txt"))
      .as[(String, String)].collect()
    assert(rows.forall(_._2 == "x.txt"))
  }

  test("registry parallelism knobs do not change results") {
    val corpus = Seq(("a.txt", "x y z x"), ("b.txt", "y z"))
      .toDF("source", "text")
    val base = MapReduce.run(corpus, "map_wc", "reduce_wc")
      .as[(String, Long)].collect().toSeq
    val knobbed = MapReduce.run(corpus, "map_wc", "reduce_wc",
      mapParallelism = 5, reduceParallelism = 3)
      .as[(String, Long)].collect().toSeq
    assert(knobbed == base)
  }

  test("partitioned parquet sink prunes at read time") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Files.createTempDirectory("graft_part").resolve("docs").toString
    TextCorpus.writePartitioned(docs, out, Seq("lang"))
    val langs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("lang="))
    assert(langs.length == 5, langs.mkString(","))
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    // partition filter prunes to one directory
    val one = back.filter(org.apache.spark.sql.functions.col("lang") === "de")
    val scanned = one.queryExecution.executedPlan.toString
    // the predicate must reach the scan as a PARTITION filter (directory
    // pruning), not a post-scan data filter
    assert(scanned.contains("PartitionFilters") && scanned.contains("(lang"), scanned.take(2000))
    assert(one.count() == docs.filter(org.apache.spark.sql.functions.col("lang") === "de").count())
  }

  test("GraftSession builds with injected SQL functions") {
    val s = GraftSession.build("local[2]", 2)
    assert(s.sql("SELECT poly_hash('x')").head().getLong(0) == 'x'.toLong)
  }

  test("invertedIndexJob writes canonical postings lines") {
    val dir = Files.createTempDirectory("graft_corpus3")
    Files.writeString(dir.resolve("a.txt"), "x y\n")
    Files.writeString(dir.resolve("b.txt"), "y\n")
    val out = dir.resolve("out").toString
    TextCorpus.invertedIndexJob(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"), out)
    val lines = spark.read.textFile(out).collect().toSet
    assert(lines == Set("x - [a.txt:1]", "y - [a.txt:1,b.txt:1]"))
  }

  test("jsonl and csv corpora round-trip through the document shape") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val dir = Files.createTempDirectory("graft_fmt")
    TextCorpus.writeJsonl(docs, s"$dir/j")
    val backJ = TextCorpus.readJsonl(spark, Seq(s"$dir/j"))
    assert(backJ.count() == docs.count())
    assert(backJ.exceptAll(docs).isEmpty && docs.exceptAll(backJ).isEmpty)
    docs.write.option("header", "true").option("escape", "\"").csv(s"$dir/c")
    val backC = TextCorpus.readCsv(spark, Seq(s"$dir/c"))
    assert(backC.count() == docs.count())
    assert(backC.exceptAll(docs).isEmpty && docs.exceptAll(backC).isEmpty)
    // embedded newlines/quotes must survive the round-trip as one record
    val tricky = Seq((1L, "line one\nline \"two\", quoted")).toDF("doc_id", "text")
    tricky.write.option("header", "true").option("escape", "\"").csv(s"$dir/t")
    val backT = TextCorpus.readCsv(spark, Seq(s"$dir/t"))
    assert(backT.as[(Long, String)].collect().toSeq ==
      Seq((1L, "line one\nline \"two\", quoted")))
  }

  test("JobRunner: the reference's interface.py journey end-to-end") {
    // test_config-style invocation: files, map_num, reduce_num, fns, output
    val dir = Files.createTempDirectory("graft_cli")
    Files.writeString(dir.resolve("a.txt"), "the cat sat\non the mat\n")
    Files.writeString(dir.resolve("b.txt"), "the dog\n")
    val wcOut = dir.resolve("wc").toString
    JobRunner.run(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"),
      mapNum = 5, reduceNum = 3, "map_wc", "reduce_wc", wcOut)
    val wc = spark.read.textFile(wcOut).collect().toSet
    assert(wc.contains("the - [3]") && wc.contains("dog - [1]") && wc.size == 6)
    val idOut = dir.resolve("id").toString
    JobRunner.run(spark, Seq(s"$dir/a.txt", s"$dir/b.txt"),
      mapNum = 0, reduceNum = 0, "map_id", "reduce_id", idOut)
    val id = spark.read.textFile(idOut).collect().toSet
    assert(id.contains("""the - [{"a.txt":2,"b.txt":1}]"""), id.mkString("; "))
    assert(id.contains("""dog - [{"b.txt":1}]"""))
  }

  test("JobRunner sink: no range-partitioning exchange, totally ordered lines") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // several files of lowercase words, which the tokenizer keeps as they are
    val dir = Files.createTempDirectory("graft_sink")
    val rnd = new scala.util.Random(11)
    val files = (0 until 4).map { f =>
      val text = Seq.fill(6)(Seq.fill(40)(s"w${rnd.nextInt(300)}").mkString(" ")).mkString("\n")
      Files.writeString(dir.resolve(s"f$f.txt"), text + "\n")
      (s"f$f.txt", text.split("\\s+").toSeq)
    }
    val wcWant = files.flatMap(_._2).groupBy(identity).toSeq.sortBy(_._1)
      .map { case (w, ws) => s"$w - [${ws.size}]" }
    val idWant = files.flatMap { case (f, ws) => ws.map(_ -> f) }.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (w, occ) =>
        val postings = occ.groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (f, n) => s""""$f":${n.size}""" }.mkString(",")
        s"$w - [{$postings}]"
      }
    // the executed plan of each write, expanded through AQE's stages
    def expand(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }).flatMap(expand)
    val writes = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (expand(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def rangeExchanges(p: SparkPlan): Seq[SparkPlan] = expand(p).collect {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    spark.listenerManager.register(listener)
    try {
      for ((mapFn, reduceFn, want) <- Seq(("map_wc", "reduce_wc", wcWant),
                                          ("map_id", "reduce_id", idWant))) {
        val out = dir.resolve(mapFn).toString
        val result = JobRunner.run(spark, files.map { case (f, _) => s"$dir/$f" },
          mapNum = 5, reduceNum = 0, mapFn, reduceFn, out)
        // the detector sees the exchange of the ordered result on its own
        result.collect()
        assert(rangeExchanges(result.queryExecution.executedPlan).nonEmpty)
        // listener delivery is async; the write command's plan names its path
        def write = writes.asScala.find(_.toString.contains(out))
        val deadline = System.nanoTime() + 10000000000L
        while (write.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
        val plan = write.getOrElse(fail(s"$mapFn: no write plan captured for $out"))
        assert(rangeExchanges(plan).isEmpty, s"$mapFn sink plan:\n$plan")
        val parts = Files.list(java.nio.file.Paths.get(out)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
        assert(parts.size == 1, parts.mkString(", "))
        assert(Files.readAllLines(parts.head).asScala.toSeq == want, mapFn)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming dedup emits one row per key") {
    val stream = graft.streaming.EventsStream.dedupStream(
      graft.streaming.EventsStream.readEvents(spark, "/root/testdata/sf0.001"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .groupBy("user_id", "event_type").count()
        .filter(org.apache.spark.sql.functions.col("count") > 1).count()
      assert(got == 0, "duplicate (user_id, event_type) emitted")
      assert(spark.table("dedup_out").count() > 0)
    } finally q.stop()
  }
}
