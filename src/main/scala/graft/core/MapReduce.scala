package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.concurrent.TrieMap

/** Generalized map/shuffle/reduce combinator — the idiomatic Spark analogue
  * of the reference's string-keyed `MAPPER_FUNCTIONS` / `REDUCER_FUNCTIONS`
  * registries (survey of `MapReduce.py:51-52`).
  *
  * A *mapper* turns an input DataFrame into `(key: string, value columns…)`
  * rows (the reference's `map_fn(k, v) -> [word, [doc, 1]]`). A *reducer*
  * turns those keyed rows into one row per key (the reference's streaming
  * `reduce_fn` over a sorted run — here a `groupBy(key)` that Catalyst runs
  * as hash aggregation with a map-side partial; semantics identical, and
  * the shuffle is a distributed hash exchange rather than the reference's
  * single-node centralized partition step).
  *
  * Because both sides are declarative DataFrame transformations, jobs
  * composed through the registry still get whole-stage codegen, partial
  * aggregation and AQE — there is no opaque lambda in the hot path.
  */
object MapReduce {

  /** Emits (key, …value columns) rows from the input. */
  final case class Mapper(apply: DataFrame => DataFrame)

  /** Reduces the keyed mapper output to one row per `key`, with `key` as
    * its first column. It must not assume anything of the mapper beyond
    * the column names: rows are neither combined nor partitioned yet. */
  final case class Reducer(apply: DataFrame => DataFrame)

  private val mappers  = TrieMap.empty[String, Mapper]
  private val reducers = TrieMap.empty[String, Reducer]

  def registerMapper(name: String, m: Mapper): Unit  = mappers.put(name, m)
  def registerReducer(name: String, r: Reducer): Unit = reducers.put(name, r)
  def mapperNames: Set[String]  = mappers.keySet.toSet
  def reducerNames: Set[String] = reducers.keySet.toSet

  /** Run a registered (mapper, reducer) pair — the analogue of
    * `GET /run_mapred/<files>/<map_num>/<reducers>/<map_fn>/<reduce_fn>`.
    * Key column must be named `key` in the mapper output. The result is
    * totally ordered by `key`; a caller that re-sorts it in one task (the
    * text sink, `TextCorpus.writeFormatted`) gets that order without the
    * range-partitioning exchange, which Catalyst then drops.
    *
    * `mapParallelism`/`reduceParallelism` mirror the reference's
    * map_num/reduce_num knobs: map-side input splits and reduce-side
    * shuffle partitions (a hash exchange on `key`, which every
    * `groupBy` that includes `key` reuses). 0 (default) leaves both to
    * Catalyst/AQE, which is the right call except in benchmarking
    * experiments. */
  def run(input: DataFrame, mapFn: String, reduceFn: String,
          mapParallelism: Int = 0, reduceParallelism: Int = 0): DataFrame = {
    val m = mappers.getOrElse(mapFn, sys.error(s"unknown mapper: $mapFn"))
    val r = reducers.getOrElse(reduceFn, sys.error(s"unknown reducer: $reduceFn"))
    val in = if (mapParallelism > 0) input.repartition(mapParallelism) else input
    val mapped = m.apply(in)
    val keyed =
      if (reduceParallelism > 0) mapped.repartition(reduceParallelism, col("key"))
      else mapped
    r.apply(keyed).orderBy("key")
  }

  // ---- the reference's two shipped applications, expressed on the registry

  import graft.text.Tokenize

  /** map_wc / map_id: tokenize, tag with provenance, constant 1. */
  private val tokenizeMapper = Mapper { docs =>
    Tokenize.tokenize(docs)
      .select(col("word").as("key"), col("doc"), lit(1L).as("cnt"))
  }

  registerMapper("map_wc", tokenizeMapper)
  registerMapper("map_id", tokenizeMapper)

  /** reduce_wc: total count per word (doc ignored). */
  registerReducer("reduce_wc", Reducer(
    _.groupBy("key").agg(sum(col("cnt")).as("cnt"))))

  /** reduce_id: {doc: count} postings map per word, canonically doc-sorted,
    * in the shape of `InvertedIndex.postings`: a (key, doc) count combine
    * in generated code, whose partial runs map-side so only per-partition
    * counts cross the shuffle, then one doc-sorted map per key. The
    * combine stays here, not in the mapper, so any mapper's raw
    * (key, doc, cnt) rows reduce correctly. */
  registerReducer("reduce_id", Reducer(
    countByDoc(_).groupBy("key")
      .agg(map_from_entries(array_sort(collect_list(struct(col("doc"), col("cnt")))))
        .as("postings"))))

  /** reduce_id_flat: (key, doc, cnt) — oracle-checkable flattened postings.
    * Grouping on both key and doc happens in the mapper contract instead:
    * use `runFlat`. */
  def runFlat(input: DataFrame, mapFn: String): DataFrame = {
    val m = mappers.getOrElse(mapFn, sys.error(s"unknown mapper: $mapFn"))
    countByDoc(m.apply(input)).orderBy("key", "doc")
  }

  private def countByDoc(keyed: DataFrame): DataFrame =
    keyed.groupBy("key", "doc").agg(sum(col("cnt")).as("cnt"))
}
