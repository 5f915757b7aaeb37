package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A seed-made corpus for the operator board: short news items about the
  * box-office movies, a share of them syndicated near-copies of an earlier
  * item with a few words changed. Rows are (doc_id, text, lang, source,
  * n_chars), the `documents` layout `graft.Tables` reads. */
object Corpus {
  private val Words = ("the a of to and in on at with for by from opening weekend " +
    "box office audience sales screen screens shows premiere release sequel " +
    "director actor actress studio distributor ticket tickets record debut " +
    "drama comedy thriller action horror romance animation documentary " +
    "critics review rating festival award season holiday summer winter " +
    "multiplex theater theaters chart rank top new old week day night " +
    "growth drop share market local foreign streaming trailer fans crowd " +
    "strong weak steady surge slump rebound lead second third").split(" ").toIndexedSeq

  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val gen = new BoxOffice(seed)
    val movies = BoxOffice.days(Main.HistoryStart, 3).flatMap(gen.chart).map(e => s"m${e.code}")
    def fresh(): Array[String] = Array.fill(30 + r.nextInt(50)) {
      if (r.nextInt(8) == 0) movies(r.nextInt(movies.size)) else Words(r.nextInt(Words.size))
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).foreach { i =>
      texts += (if (i < 10 || r.nextInt(4) != 0) fresh() else {
        val copy = texts(r.nextInt(i)).clone()
        (1 to 1 + r.nextInt(6)).foreach(_ => copy(r.nextInt(copy.length)) = Words(r.nextInt(Words.size)))
        copy
      })
    }
    val langs = IndexedSeq("en", "ko", "de", "fr", "es")
    texts.toIndexedSeq.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong, text, langs(i % langs.size), s"src${i % 20}", text.length.toLong)
    }
  }
}

/** The operator board: one pass runs each of [[Board.Queries]] from
  * `SparkEntry.queries` over the corpus with `.count()`, clearing the
  * cache between queries. Set-up writes the corpus. */
final class Board(spark: SparkSession, seed: Long, tr: Tracer, work: String) {
  import spark.implicits._

  private var dir = ""
  /** Writes the corpus to a new directory, removing the previous one. */
  def fresh(name: String): Unit = {
    if (dir.nonEmpty) Flow.rm(new File(dir))
    dir = s"$work/corpus_$name"
    Corpus.documents(seed, Board.Docs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  /** One pass; returns each query's latency in seconds. */
  def pass(): Seq[Double] = Board.Queries.map { q =>
    val s = Main.timed(tr.span(s"ops.$q")(SparkEntry.queries(q)(spark, dir).count(): Unit))
    spark.catalog.clearCache()
    s
  }

  /** Writes each query's output, and its oracle SQL, for the DuckDB check
    * that `perfbench/oracle.py` runs after the JVM ends. Untimed. */
  def dump(out: String): Unit = {
    Board.Queries.foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.parquet(s"$out/$q")
      spark.catalog.clearCache()
    }
    val sql = Stats.json(Stats.Obj(Board.Queries.map(q => q -> SparkEntry.oracleSql(q)): _*))
    java.nio.file.Files.write(new File(out, "oracle_sql.json").toPath, sql.getBytes("UTF-8"))
    java.nio.file.Files.write(new File(out, "corpus_dir").toPath, dir.getBytes("UTF-8"))
  }
}

object Board {
  val Docs = 400
  /** The operator-library queries a pass runs, each with an oracle in
    * `SparkEntry.oracleSql`: the n-gram Jaccard join of the shingle family,
    * which ROADMAP lists as open. */
  val Queries = Seq("dedup_ngram_jaccard")
}
