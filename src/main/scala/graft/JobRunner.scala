package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.MapType

import graft.core.MapReduce
import graft.sources.TextCorpus

/** User-facing job entry point — the engine's analogue of the reference's
  * `interface.py` journey (reference `interface.py:9-24`, driving
  * `GET /run_mapred/<files>/<map_num>/<reducers>/<map_fn>/<reduce_fn>`
  * and writing the response to `output_location`):
  *
  * {{{
  * sbt "runMain graft.JobRunner fileA.txt:fileB.txt 50 50 map_wc reduce_wc out_dir"
  * }}}
  *
  * Arguments mirror the reference's request path segments one-for-one:
  * colon-separated input files (paths/globs), map parallelism, reduce
  * parallelism (0 = leave to Catalyst/AQE — the right default outside
  * benchmarking), mapper and reducer registry names, output location.
  * Output is the reference's `key - [value]` text sink in one file,
  * totally ordered by key (its nondeterministic append order and
  * final-flush bug are intentionally not replicated); map-valued results
  * (reduce_id) render as canonical doc-sorted JSON. The sink sorts the
  * reduced rows in its one writing task (`TextCorpus.writeFormatted`),
  * so the optimizer drops the registry's global `orderBy` beneath it:
  * each job runs its reduce once, with no range-bounds sampling job. */
object JobRunner {

  private def usage: String =
    s"""usage: graft.JobRunner <file1:file2:...> <map_num> <reduce_num> <map_fn> <reduce_fn> <output_dir>
       |  map_fn    one of: ${MapReduce.mapperNames.toSeq.sorted.mkString(", ")}
       |  reduce_fn one of: ${MapReduce.reducerNames.toSeq.sorted.mkString(", ")}""".stripMargin

  /** The runnable job body, separated from `main` so tests can drive it
    * on an existing session. Returns the (key, value) result frame the
    * sink formatted and wrote; map values are already rendered as JSON. */
  def run(spark: org.apache.spark.sql.SparkSession, files: Seq[String],
          mapNum: Int, reduceNum: Int, mapFn: String, reduceFn: String,
          output: String): DataFrame = {
    val docs = TextCorpus.read(spark, files)
    val result = MapReduce.run(docs, mapFn, reduceFn, mapNum, reduceNum)
    // render any map-valued column canonically before the text sink
    val rendered = result.schema.fields.foldLeft(result) { (df, f) =>
      f.dataType match {
        case _: MapType => df.withColumn(f.name,
          graft.apps.InvertedIndex.postingsToJson(org.apache.spark.sql.functions.col(f.name)))
        case _ => df
      }
    }
    TextCorpus.writeFormatted(rendered, output)
    rendered
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 6) { System.err.println(usage); sys.exit(2) }
    val Array(files, mapNum, reduceNum, mapFn, reduceFn, output) = args
    // validate everything BEFORE paying session startup: registry names,
    // numeric parallelism knobs, non-empty file list
    val fileList = files.split(':').toSeq.filter(_.nonEmpty)
    val nums = (mapNum.toIntOption, reduceNum.toIntOption)
    val problem =
      if (!MapReduce.mapperNames.contains(mapFn)) Some(s"unknown map fn '$mapFn'")
      else if (!MapReduce.reducerNames.contains(reduceFn)) Some(s"unknown reduce fn '$reduceFn'")
      else if (nums._1.isEmpty || nums._2.isEmpty)
        Some(s"map_num/reduce_num must be integers, got '$mapNum'/'$reduceNum'")
      else if (fileList.isEmpty) Some("no input files given")
      else None
    problem.foreach { p => System.err.println(s"$p\n$usage"); sys.exit(2) }
    val spark = GraftSession.build()
    try run(spark, fileList, nums._1.get, nums._2.get, mapFn, reduceFn, output)
    finally spark.stop()
  }
}
