package searchbench

import scala.collection.mutable

/** Seeded input generator. Everything a run feeds the library — corpus,
  * query streams, churn batches — is a pure function of the seed, so the
  * same seed gives the same inputs on every commit. Every draw goes through
  * [[Gen.mix]] on (seed, stream, index) rather than one shared RNG, so the
  * inputs of one workload do not shift when another part draws more.
  */
object Gen {
  val DomainName = "docs"
  val Models: Seq[String] = Seq("stub:mini", "stub:base")
  val TopN = 10
  /** Words in a title: `SearchEngine.docDatapoints` keeps the first 8 tokens. */
  val TitleWords = 8

  /** DictionaryWeightedAverage weights: level 2 keys datapoint names,
    * level 1 keys models. */
  val DwaWeights: Map[String, Double] =
    Map("title" -> 2.0, "body" -> 1.0, "stub:mini" -> 0.5, "stub:base" -> 1.5)
  private def dwa(keys: String*): String =
    keys.map(k => s""""$k": ${DwaWeights(k)}""").mkString("DictionaryWeightedAverage:{", ", ", "}")
  private val Plain = IndexedSeq("Mean", "HarmonicMean", "QuadraticMean", "GeometricMean",
    "EVEWAvg", "HVEWAvg", "LVEWAvg")
  /** Level-2 (entity) methods. */
  val EntityMethods: IndexedSeq[String] = Plain :+ dwa("title", "body")
  /** Level-1 (datapoint) methods. */
  val DatapointMethods: IndexedSeq[String] = Plain :+ dwa(Models: _*)

  /** splitmix64 finalizer over (seed, stream, index). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed, stream, i) >>> 11).toDouble / (1L << 53).toDouble
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    math.min(n - 1, (unit(seed, stream, i) * n).toInt)

  // stream ids of the per-id draws
  private val SEntM = 4L; private val SDpM = 5L; private val SLang = 6L

  /** A document: one entity with a `title` and a `body` datapoint. */
  final case class Doc(id: Long, text: String) {
    def name: String = s"doc_$id"
    def title: String = text.split("\\s+").filter(_.nonEmpty).take(TitleWords).mkString(" ")
  }

  /** One datapoint row as `EngineApi.upsertEntities` takes it. */
  final case class Dp(entityId: Long, datapointId: Long, name: String,
      probmethod: String, similaritymethod: String, text: String)

  def entityMethod(seed: Long, id: Long): String =
    EntityMethods(below(seed, SEntM, id, EntityMethods.size))
  def datapointMethod(seed: Long, dpId: Long): String =
    DatapointMethods(below(seed, SDpM, dpId, DatapointMethods.size))
  /** The similarity method `SearchEngine.docDatapoints` assigns by datapoint id. */
  def similarityMethod(dpId: Long): String = SimMethods(java.lang.Math.floorMod(dpId, 4L).toInt)
  private val SimMethods = Vector("Cosine", "Euclidian", "Manhattan", "Cosine")
  private val Langs = Vector("en", "de", "fr")
  private val Sources = Vector("web", "news", "wiki")
  def lang(seed: Long, id: Long): String = Langs(below(seed, SLang, id, 3))
  def source(seed: Long, id: Long): String = Sources(below(seed, SLang + 100, id, 3))

  def datapoints(seed: Long, d: Doc): Seq[Dp] = Seq(
    Dp(d.id, d.id * 2, "title", datapointMethod(seed, d.id * 2), similarityMethod(d.id * 2), d.title),
    Dp(d.id, d.id * 2 + 1, "body", datapointMethod(seed, d.id * 2 + 1), similarityMethod(d.id * 2 + 1), d.text))

  def userBytes(docs: Iterable[Doc]): Long =
    docs.iterator.map(_.text.getBytes("UTF-8").length.toLong).sum
}

/** Word source for one seed: a vocabulary of pseudo-words and a skewed
  * word draw, so texts share words the way natural text does.
  */
final class Vocab(seed: Long, size: Int) {
  import Gen._
  private val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "shi", "vo", "pe", "zu",
    "an", "el", "or", "is", "ut", "qua", "bri", "gen", "dax", "fel")
  val words: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    var i = 0L
    while (seen.size < size) {
      val n = 2 + below(seed, 1L, i, 3)
      seen += (0 until n).map(k => syll(below(seed, 1L, i * 8 + k + 1_000_000L, syll.length))).mkString
      i += 1
    }
    seen.toIndexedSeq
  }
  // word rank r drawn with weight 1/(r+1)^0.8
  private val cdf: Array[Double] = {
    val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1.0, 0.8))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  def word(stream: Long, i: Long): String = {
    val u = unit(seed, stream, i)
    val k = java.util.Arrays.binarySearch(cdf, u)
    words(math.min(size - 1, if (k >= 0) k else -k - 1))
  }
  /** A text of `minW..maxW` words, identified by (stream, i). */
  def text(stream: Long, i: Long, minW: Int, maxW: Int): String = {
    val n = minW + below(seed, stream + 50, i, maxW - minW + 1)
    (0 until n).map(k => word(stream, i * 64 + k)).mkString(" ")
  }
}

/** Sizes of one workload. */
final case class Sizes(entities: Int, dim: Int, minWords: Int = 12, maxWords: Int = 32,
    vocab: Int = 4000)

object Corpus {
  import Gen._
  def docs(seed: Long, v: Vocab, s: Sizes, from: Long = 0L): IndexedSeq[Doc] =
    (from until from + s.entities).map(id =>
      Doc(id, v.text(2L, id, s.minWords, s.maxWords)))

  /** Distinct query strings of 3-6 words; `salt` separates streams. */
  def queries(seed: Long, v: Vocab, salt: Long, n: Int): IndexedSeq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    var i = 0L
    while (out.size < n) { out += v.text(7L + salt * 1000, i, 3, 6); i += 1 }
    out.toIndexedSeq
  }

  /** A Zipf(s) sequence of `n` popularity ranks in a pool of `pool`. The
    * uniform draws are the golden-ratio sequence, not independent draws:
    * every prefix then matches the Zipf frequencies closely. The rank
    * sequence is the same for every seed (the seed picks which string holds
    * each rank), so the hits and misses of a run depend only on how many
    * requests fit into it, not on the seed.
    */
  def zipfRanks(pool: Int, s: Double, n: Int): IndexedSeq[Int] = {
    val w = Array.tabulate(pool)(r => 1.0 / math.pow(r + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    val cdf = c.map(_ / c.last)
    val step = (math.sqrt(5) - 1) / 2
    (0 until n).map { i =>
      val u = (i * step) % 1.0
      val k = java.util.Arrays.binarySearch(cdf, u)
      math.min(pool - 1, if (k >= 0) k else -k - 1)
    }
  }
}

/** One index-churn commit with its ground truth. */
final case class Batch(
    docs: IndexedSeq[Gen.Doc],        // every document uploaded (PUT semantics)
    deletes: IndexedSeq[Gen.Doc],     // deleteEntity victims after the upsert
    created: Long, changed: Long, unchanged: Long, deleted: Long,
    embedTexts: IndexedSeq[String],   // distinct created/changed texts
    neededEmbedRows: Long,            // embedded rows the corpus did not hold yet
    changedTextBytes: Long) {
  def expectedEmbedRows: Long = embedTexts.size.toLong * Gen.Models.size
}

/** Churn batches over a live corpus. Per commit about `frac` of live
  * entities are uploaded: 60 % change text (half only past the title, so the
  * title datapoint stays unchanged; a tenth copy another document's text,
  * so its embedding was not truly needed), 25 % are resent unchanged, 15 %
  * are new entities; `deletesPer` further entities are deleted. An uploaded
  * entity always carries both its datapoints, so the diff's `deleted`
  * bucket is 0 by construction.
  */
final class Churn(seed: Long, v: Vocab, s: Sizes, initial: IndexedSeq[Gen.Doc],
    frac: Double, deletesPer: Int) {
  import Gen._
  private val live = mutable.LinkedHashMap.empty[Long, Doc]
  initial.foreach(d => live(d.id) = d)
  private var nextId = initial.map(_.id).max + 1
  private var k = 0L

  def corpus: IndexedSeq[Doc] = live.values.toIndexedSeq

  def next(): Batch = {
    k += 1
    val ids = live.keys.toIndexedSeq
    val size = math.max(4, (ids.size * frac).round.toInt)
    val nChanged = (size * 0.60).round.toInt
    val nSame = (size * 0.25).round.toInt
    val nNew = math.max(1, size - nChanged - nSame)
    // distinct live ids, seeded draws with repeats skipped
    val picked = mutable.LinkedHashSet.empty[Long]
    var i = 0L
    while (picked.size < nChanged + nSame + deletesPer) {
      picked += ids(below(seed, 9L, k * 1_000_000L + i, ids.size)); i += 1
    }
    val pick = picked.toIndexedSeq
    val liveTexts = live.values.flatMap(d => Seq(d.title, d.text)).toSet
    val changedDocs = pick.take(nChanged).zipWithIndex.map { case (id, j) =>
      val old = live(id)
      val fresh = v.text(20L + k, j, s.minWords, s.maxWords)
      val text =
        if (j % 10 == 9) { // copy of another live document: embedding not needed
          val other = live(pick(nChanged + nSame + deletesPer - 1 - (j % math.max(1, deletesPer))))
          if (other.text != old.text) other.text else fresh
        } else if (j % 2 == 0) old.title + " " + fresh // body changes, title kept
        else fresh
      Doc(id, text)
    }
    val sameDocs = pick.slice(nChanged, nChanged + nSame).map(live)
    val deleteDocs = pick.slice(nChanged + nSame, nChanged + nSame + deletesPer).map(live)
    val newDocs = (0 until nNew).map { j =>
      val d = Doc(nextId, v.text(21L + k, j, s.minWords, s.maxWords)); nextId += 1; d
    }
    var changed, unchanged = 0L
    val fresh = mutable.LinkedHashSet.empty[String]
    var changedBytes = 0L
    changedDocs.foreach { d =>
      val old = live(d.id)
      Seq((old.title, d.title), (old.text, d.text)).foreach { case (o, n) =>
        if (o == n) unchanged += 1
        else { changed += 1; fresh += n; changedBytes += n.getBytes("UTF-8").length }
      }
    }
    unchanged += 2L * sameDocs.size
    newDocs.foreach { d =>
      fresh += d.title; fresh += d.text
      changedBytes += d.title.getBytes("UTF-8").length + d.text.getBytes("UTF-8").length
    }
    val needed = fresh.count(t => !liveTexts.contains(t))
    (changedDocs ++ newDocs).foreach(d => live(d.id) = d)
    deleteDocs.foreach(d => live.remove(d.id))
    Batch(changedDocs ++ sameDocs ++ newDocs, deleteDocs,
      created = 2L * newDocs.size, changed = changed, unchanged = unchanged, deleted = 0L,
      embedTexts = fresh.toIndexedSeq,
      neededEmbedRows = needed.toLong * Models.size,
      changedTextBytes = changedBytes)
  }
}
