package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.fixtures.Gen
import graft.model.Turn

/** One row of the `documents` table (the schema of the harness's
  * `documents.parquet`). */
final case class Doc(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** Seeded inputs. The same seed always gives the same rows; the program only
  * ever sees the parquet written here. */
object Inputs {
  /** batch_detect corpus: conversations of `Gen.transcripts` (~8.9 turns each). */
  val BatchConvs = 4000
  /** Files per staged table, so the scan has one task per task slot. */
  val FilesPerTable = Session.Cores
  /** Stream corpus of the traced run: conversations, and ts-range files. */
  val StreamConvs = 1500
  val StreamFiles = 3
  /** curation_neardup corpus size (documents of ~25 words). */
  val Docs = 1200

  def writeTurns(spark: SparkSession, turns: Seq[Turn], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(turns).repartition(FilesPerTable).write.mode("overwrite").parquet(path)
  }

  /** The rule tables of `Gen` as parquet sub-tables, the layout
    * `Source.readRuleTables` reads. */
  def writeRules(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def w[T](rows: Seq[T], name: String)(implicit e: org.apache.spark.sql.Encoder[T]): Unit =
      spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    w(Gen.iocTable, "ioc")
    w(Gen.sigRules, "sig_rules")
    w(Gen.refBaseline, "ref_baseline")
    w(Gen.whitelistRules, "whitelist")
  }

  /** Cut turns into `k` ascending, non-overlapping `ts` ranges: every turn of
    * range i is strictly earlier than every turn of range i + 1. A cut never
    * splits one timestamp. (Conversations overlap in time, so generator
    * chunks by conversation would not satisfy this.) */
  def tsRanges(turns: Seq[Turn], k: Int): Seq[Seq[Turn]] = {
    val sorted = turns.sortBy(t => (t.ts.getTime, t.conv_id, t.turn_idx)).toVector
    val cuts = (1 until k).map { j =>
      var i = j * sorted.size / k
      while (i < sorted.size && sorted(i).ts == sorted(i - 1).ts) i += 1
      i
    }
    val bounds = 0 +: cuts :+ sorted.size
    val ranges = bounds.zip(bounds.tail).map { case (a, b) => sorted.slice(a, b) }
    ranges.zip(ranges.tail).foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && a.last.ts.getTime < b.head.ts.getTime,
        "ts ranges must be non-empty, ascending and non-overlapping")
    }
    ranges
  }

  /** Write one range as a single parquet file at `dst`, with modification
    * time `mtimeMs` (the file stream source orders files by it). */
  def writeTurnFile(spark: SparkSession, turns: Seq[Turn], tmp: String,
      dst: String, mtimeMs: Long): Unit = {
    import spark.implicits._
    spark.createDataset(turns).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val out = new File(dst)
    out.getParentFile.mkdirs()
    Files.move(part.toPath, out.toPath, StandardCopyOption.REPLACE_EXISTING)
    require(out.setLastModified(mtimeMs), s"cannot set mtime of $dst")
  }

  // ---- documents: a small vocabulary, so 3-word shingles recur
  private val Vocab = Vector("key", "agg", "row", "scan", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "data",
    "column", "join", "small", "customer", "query", "big", "order", "group",
    "stream", "filter", "vector", "index", "shard", "cache", "plan")
  private val LangWords = Map(
    "en" -> Vector("the", "and", "of", "to", "a", "fast", "slow"),
    "es" -> Vector("el", "la", "de", "y", "que"),
    "de" -> Vector("der", "die", "das", "und", "ist"),
    "fr" -> Vector("le", "et", "les", "des", "un"))
  private val Sources = Vector("web", "books", "code", "forum")
  /** Hot shingles: phrases planted in many documents (high document
    * frequency, the skewed keys of the shingle self-join). */
  private val HotPhrases = Vector("shared prefix token", "common header line",
    "copied footer text")
  /** Boilerplate 10-word segments repeated across documents. */
  private val Boilerplate: Vector[Array[String]] = {
    val r = new Random(99L)
    Vector.fill(5)(Array.fill(10)(Vocab(r.nextInt(Vocab.size))))
  }

  /** Seeded documents with planted structure:
    *  - 12% near-duplicates of a random earlier document (5% of words
    *    replaced), so clusters form;
    *  - 6% near-duplicates of the previous document, so chains form and
    *    connected components need several rounds;
    *  - 6% carry a 10-word span of an earlier eval-set document
    *    (doc_id % 23 == 0), the contamination screen's overlap;
    *  - 6% are built from repeated boilerplate segments;
    *  - 8% get one hot phrase inserted;
    *  - 20% are written mostly in es/de/fr, so the language gate drops them. */
  def documents(n: Int, seed: Long): Seq[Doc] = {
    val rng = new Random(seed)
    def pick[T](v: Vector[T]): T = v(rng.nextInt(v.size))
    def word(lang: String): String =
      if (rng.nextInt(100) < 30) pick(LangWords(lang)) else pick(Vocab)
    def fresh(lang: String, len: Int): Array[String] = Array.fill(len)(word(lang))
    def nearDup(src: Array[String]): Array[String] =
      src.map(w => if (rng.nextInt(100) < 5) pick(Vocab) else w)
    val texts = ArrayBuffer.empty[Array[String]]
    val langs = ArrayBuffer.empty[String]
    for (i <- 0 until n) {
      val lang = if (rng.nextInt(100) < 80) "en" else pick(Vector("es", "de", "fr"))
      val roll = rng.nextInt(100)
      val ws: Array[String] =
        if (roll < 12 && i > 0) nearDup(texts(rng.nextInt(i)))
        else if (roll < 18 && i > 0) nearDup(texts(i - 1))
        else if (roll < 24 && i > 23) {
          val ev = texts(23 * rng.nextInt((i - 1) / 23 + 1))
          val at = rng.nextInt(ev.length - 9)
          fresh(lang, 5 + rng.nextInt(15)) ++ ev.slice(at, at + 10) ++
            fresh(lang, 5 + rng.nextInt(10))
        } else if (roll < 30)
          (0 until 2 + rng.nextInt(2)).flatMap { _ =>
            if (rng.nextBoolean()) pick(Boilerplate).toSeq else fresh(lang, 10).toSeq
          }.toArray
        else fresh(lang, 12 + rng.nextInt(28))
      val withHot =
        if (rng.nextInt(100) < 8) {
          val at = rng.nextInt(ws.length + 1)
          ws.take(at) ++ pick(HotPhrases).split(" ") ++ ws.drop(at)
        } else ws
      texts += withHot
      langs += lang
    }
    texts.indices.map { i =>
      val t = texts(i).mkString(" ")
      Doc(i.toLong, t, langs(i), Sources(i % Sources.size), t.length.toLong)
    }
  }

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(docs).repartition(FilesPerTable).write.mode("overwrite").parquet(path)
  }

  /** Bytes of all regular files under `path` (0 if it does not exist). */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.isFile) f.length()
      else 0L
    walk(new File(path))
  }
}
