package perfbench

import graft.Queries
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.SplittableRandom

/** The fixed `curate` corpus: documents over a small vocabulary with a
  * share of near-duplicates, and clustered 64-dim embeddings. */
object Corpus {
  val Docs = 2000
  val Vectors = 1000
  private val Vocab = ("a agg batch big column fast filter group hash join key " +
    "line order part query row scan slow small sort spark stream table value " +
    "window data text index cell store merge").split(' ')
  private val Langs = Array("en", "en", "en", "es", "fr", "de", "zh")

  def text(i: Long): String = {
    val h = Orders.mix(i)
    // every 20th document is a near-duplicate of an earlier one
    val base = if (i % 20 == 7 && i > 20) i - 13 else i
    val n = 8 + java.lang.Math.floorMod(Orders.mix(base), 90L).toInt
    (0 until n).map { j =>
      val w = if (base != i && j % 17 == 3) Orders.mix(h + j) else Orders.mix(base * 1000 + j)
      Vocab(java.lang.Math.floorMod(w, Vocab.length.toLong).toInt)
    }.mkString(" ")
  }

  def documents(spark: SparkSession, docs: Int): DataFrame = {
    import spark.implicits._
    (0L until docs).map { i =>
      val t = text(i)
      (i, t, Langs(java.lang.Math.floorMod(Orders.mix(i + 7), Langs.length.toLong).toInt),
        s"src${java.lang.Math.floorMod(Orders.mix(i + 11), 20L)}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val centers = Array.tabulate(10) { c =>
      val r = new SplittableRandom(1000 + c); Array.fill(64)(r.nextDouble() * 2 - 1)
    }
    (0L until Vectors).map { i =>
      val label = java.lang.Math.floorMod(Orders.mix(i), 10L).toInt
      val r = new SplittableRandom(i)
      (i, centers(label).map(x => (x + (r.nextDouble() - 0.5) * 0.6).toFloat).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  def write(spark: SparkSession, dir: String, docs: Int = Docs): Unit = {
    documents(spark, docs).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(spark).coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

/** Counts CacheManager "already cached" warnings. */
final class CacheWarnings extends AbstractAppender("pb-cache-warnings", null, null, true,
    org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
  @volatile var count = 0
  override def append(e: LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("already cached")) count += 1
}

/** `curate`: cache-cold passes over a battery of curation queries in seeded
  * order, each built with `q.run` with the cache cleared first, and
  * written to a parquet answer that the DuckDB oracle check reads. */
object Curate {
  /** Bench queries, at least one per pipeline module, that read only
    * `documents`/`embeddings`: the rest of the bench battery reads the
    * TPC-H tables or the fixture store under /tmp, outside the benchmark's
    * own directory. */
  val Names = Seq("dedup_ngram_jaccard", "dedup_winnowing", "dedup_segments",
    "text_quality", "text_repetition", "similarity_topk", "pack_sequences",
    "curation_pipeline")
  /** Queries whose DuckDB oracle (a shingle self-join) takes minutes on
    * the timed corpus: their answers are checked on its first
    * `SmallDocs` documents instead. */
  val SmallOracle = Set("dedup_ngram_jaccard")
  val SmallDocs = 250
  /** Passes over the battery in one unit of the timed loop. */
  val PassesPerUnit = 3
}

final class Curate(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val queries = Curate.Names.map(n => Queries.all.find(_.name == n).getOrElse(
    throw new IllegalStateException(s"no query $n")))
  private def group(name: String): String = Report.group(name).get

  final class State(val dir: String)
  private val answers = s"$work/curate-answers"
  private val small = s"$work/curate-small"
  private val smallAnswers = s"$work/curate-small-answers"

  /** Writes the small corpus. */
  def warmUp(): Unit = Corpus.write(spark, small, Curate.SmallDocs)
  def setup(rep: Int): State = {
    val dir = s"$work/curate-$rep"
    Corpus.write(spark, dir)
    new State(dir)
  }

  private val warnings = new CacheWarnings
  warnings.start()
  LogManager.getLogger("org.apache.spark.sql.execution.CacheManager")
    .asInstanceOf[CoreLogger].addAppender(warnings)

  /** Whole units until `seconds` have passed. A unit is `PassesPerUnit`
    * passes over the battery, each in its own seeded order, so that every
    * query is timed more than once in a run. */
  def measure(s: State, rec: Recorder, seconds: Double, maxOps: Int): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val rnd = new SplittableRandom(seed)
    var units = 0
    while (units < maxOps && (units == 0 || System.nanoTime() < deadline)) {
      for (_ <- 1 to Curate.PassesPerUnit) pass(s, rec, rnd)
      units += 1
    }
    units
  }

  private def pass(s: State, rec: Recorder, rnd: SplittableRandom): Unit =
    queries.map(q => (rnd.nextLong(), q)).sortBy(_._1).foreach { case (_, q) =>
      spark.catalog.clearCache()
      val before = warnings.count
      rec.op(q.name) {
        val df = rec.span(s"${group(q.name)}.construct")(q.run(spark, s.dir))
        rec.span("spark.write")(df.write.mode("overwrite").parquet(s"$answers/${q.name}"))
      } { _ => () }
      Check.equal(s"${q.name}: CacheManager 'already cached' warnings", 0, warnings.count - before)
    }

  /** Runs every query once on the small corpus. Its answers serve the
    * oracle check of the queries in `SmallOracle`. */
  def prime(s: State): Unit = {
    queries.foreach { q =>
      spark.catalog.clearCache()
      q.run(spark, small).write.mode("overwrite").parquet(s"$smallAnswers/${q.name}")
    }
  }

  /** Records, per query, its DuckDB oracle, the corpus and the answer to
    * hash-match, for the out-of-process check. */
  def finish(s: State, rec: Recorder): Map[String, Double] = {
    val entries = queries.map { q =>
      val (corpus, answer) =
        if (Curate.SmallOracle(q.name)) (small, smallAnswers) else (s.dir, answers)
      val sql = q.oracle.getOrElse(throw new IllegalStateException(s"${q.name} has no oracle"))
      q.name -> Json.obj(Seq("corpus" -> Json.str(corpus),
        "answer" -> Json.str(s"$answer/${q.name}"), "sql" -> Json.str(sql)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle.json"),
      Json.obj(entries))
    Map.empty
  }
}
