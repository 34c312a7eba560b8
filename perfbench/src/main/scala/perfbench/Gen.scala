package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own input generators. Every generator is a pure
  * function of (seed, size): each value is a hash of the seed and the
  * row id, so the rows do not depend on partitioning, scheduling or
  * the JVM. graft only ever sees the parquet these frames are written
  * to. */
object Gen {

  /** Label day: labels fall in [Day, Day + 1 day); feature histories
    * fill the 364 days before it. */
  val DayEpochSeconds: Long = 1717200000L // 2024-06-01T00:00:00Z
  val HistorySeconds: Long = 364L * 86400L

  /** Uniform non-negative long in [0, mod) from (seed, salt, parts). */
  def h(seed: Long, salt: Int, mod: Long, parts: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: parts): _*), lit(mod))

  private def ts(seconds: Column): Column = timestamp_seconds(seconds)

  // ---- pit_build: labels + feature sources --------------------------

  final case class PitSize(labels: Long, entities: Long, sources: Int, rowsPerSource: Long) {
    require(rowsPerSource % entities == 0, "rowsPerSource must be a multiple of entities")
    def slots: Long = rowsPerSource / entities
  }

  /** (entity_id, label_time, target): label times span one day. */
  def labels(spark: SparkSession, seed: Long, size: PitSize): DataFrame =
    spark.range(size.labels).select(
      h(seed, 1, size.entities, col("id")).as("entity_id"),
      ts(lit(DayEpochSeconds) + h(seed, 2, 86400L, col("id"))).as("label_time"),
      h(seed, 3, 2L, col("id")).cast("int").as("target"))

  /** Source `k`: (entity_id, feature_time, f<k>_value). Row j belongs
    * to entity j mod E and to time slot j div E; the slots split the
    * prior year into disjoint intervals, so (entity_id, feature_time)
    * is unique and every entity has `slots` rows before the label day. */
  def source(spark: SparkSession, seed: Long, size: PitSize, k: Int): DataFrame = {
    val slotLen = HistorySeconds / size.slots
    val slot = floor(col("id") / size.entities).cast("long")
    spark.range(size.rowsPerSource).select(
      pmod(col("id"), lit(size.entities)).as("entity_id"),
      ts(lit(DayEpochSeconds - HistorySeconds) + slot * slotLen +
        h(seed, 100 + k, slotLen - 1, col("id"))).as("feature_time"),
      (h(seed, 200 + k, 1000000L, col("id")) / 1000.0).as(valueCol(k)))
  }

  def valueCol(k: Int): String = s"f${k}_value"

  // ---- curate --------------------------------------------------------

  /** Document classes by `doc_id mod 40`. Every defect is planted by
    * residue and every clean page clears the scan-side rules by a wide
    * margin, so the scan-stage and hash-dedup ledger counts are fixed
    * by the corpus size; the seed only changes which words and
    * sentences appear. */
  object Doc {
    val Mod = 40L
    val Short = 3L      // one sentence: fails C4's sentence minimum
    val Symbols = 9L    // '#'-only line: fails C4 (no terminal punctuation)
    val Repeated = 17L  // one line twelve times: fails the repetition rules
    val Foreign = 26L   // German function words only: fails Gopher's stop-word rule
    val ExactCopy = 31L // text of doc_id - 30 (a clean page) under its own URL
    val NearCopy = 35L  // text of doc_id - 30 with two words appended
    val UrlCopy = 37L   // URL of doc_id - 30 plus tracking parameters, own text
  }

  /** Sentences per clean page: at least [[MinSentences]], drawn from
    * disjoint slices of the sentence bank so no page repeats a line. */
  val MinSentences = 6
  val MaxSentences = 8
  private val SliceSize = 256

  private val Consonants = "bcdfghklmnprstvw"
  private val Vowels = "aeiou"

  /** English function words alternate with seeded pseudo-words; every
    * sentence carries "of the", so every page has two Gopher stop-word
    * kinds however the seed falls. */
  private val Common = Seq("and", "to", "in", "is", "that", "for", "it", "with",
    "as", "was", "on", "at", "by", "this", "had", "not", "are", "but", "from",
    "or", "have", "they", "which", "you", "were", "their", "one", "all", "we",
    "can", "her", "has", "there", "been", "if", "more", "when", "will", "would",
    "who", "so", "no", "about", "many", "then", "them", "these", "some", "into",
    "time", "could", "other", "what", "than", "first", "water", "people", "work",
    "year", "good", "after", "most", "over", "new")

  private val ForeignWords = Seq("der", "und", "die", "nicht", "mit", "sich",
    "auf", "ist", "ein", "eine", "dem", "wird", "auch", "noch", "nach", "einer",
    "werden", "durch", "sind", "oder", "bei", "kann", "wenn", "sehr", "schon")

  private def sentences(seed: Long, salt: Int, n: Int, english: Boolean): Seq[String] = {
    val rnd = new java.util.Random(seed * 1000003L + salt)
    def pseudo(): String =
      (0 until 5 + rnd.nextInt(4)).map(i =>
        if (i % 2 == 0) Consonants(rnd.nextInt(Consonants.length))
        else Vowels(rnd.nextInt(Vowels.length))).mkString
    (0 until n).map { _ =>
      val ws =
        if (english)
          (0 until 10 + rnd.nextInt(6)).map(i =>
            if (i % 2 == 1) Common(rnd.nextInt(Common.size)) else pseudo()) ++
            Seq("of", "the", pseudo())
        else (0 until 12 + rnd.nextInt(4)).map(_ => ForeignWords(rnd.nextInt(ForeignWords.size)))
      (ws.head.capitalize +: ws.tail).mkString(" ") + "."
    }
  }

  /** (doc_id, url, text) web corpus with the planted classes of [[Doc]].
    * Spark hashes the seeded draws, as in every other generator; the
    * driver assembles the text from them: as array literals in a Spark
    * plan, the thousands of bank sentences cost seconds of planning and
    * code generation on every set-up. */
  def corpus(spark: SparkSession, seed: Long, docs: Long): DataFrame = {
    val bank = sentences(seed, 1, SliceSize * MaxSentences, english = true).toVector
    val foreign = sentences(seed, 2, SliceSize * MaxSentences, english = false).toVector
    val r = pmod(col("id"), lit(Doc.Mod))
    val isCopy = r === Doc.ExactCopy || r === Doc.NearCopy
    // copies take their prose from the clean page 30 ids earlier
    val base = when(isCopy && col("id") >= 30L, col("id") - 30L).otherwise(col("id"))
    // (id, sentence count, then for each sentence slot s its draw from slice s of the bank)
    val draws = spark.range(docs).select(col("id") +:
      (lit(MinSentences.toLong) + h(seed, 9, (MaxSentences - MinSentences + 1).toLong, base)) +:
      (0 until MaxSentences).map(s => h(seed, 10 + s, SliceSize.toLong, base)): _*).collect()
    val repLine = "Buy the best offer today and save more money now."
    def urlOf(i: Long) = s"https://www.site${i % 997}.example.com/page/$i"
    val rows = draws.toSeq.map { row =>
      val id = row.getLong(0)
      def sentence(s: Int, arr: Vector[String]) = arr(s * SliceSize + row.getLong(2 + s).toInt)
      def prose(arr: Vector[String]) = (0 until row.getLong(1).toInt).map(sentence(_, arr)).mkString("\n")
      val text = id % Doc.Mod match {
        case Doc.Short => sentence(0, bank)
        case Doc.Symbols => Seq.fill(60)("#").mkString(" ")
        case Doc.Repeated => Seq.fill(12)(repLine).mkString("\n")
        case Doc.Foreign => prose(foreign)
        case Doc.NearCopy if id >= 30L => prose(bank) + " Read more."
        case _ => prose(bank)
      }
      val url =
        if (id % Doc.Mod == Doc.UrlCopy) urlOf(id - 30L) + "?utm_source=feed&utm_campaign=mirror"
        else urlOf(id)
      (id, url, text)
    }
    spark.createDataFrame(rows).toDF("doc_id", "url", "text")
  }
}
