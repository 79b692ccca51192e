package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import GenIO._

/** A `documents.parquet` corpus for the composed corpus build
  * (`q215_corpus_build`), with the attrition ledger the build must
  * report, computed here from the documents alone.
  *
  * Planted: documents too short for the word bounds, documents whose
  * mean word length fails the length screen, exact duplicates, one
  * source whose pass rate fails the source screen, and near-duplicate
  * clusters of 2-4 documents. Cluster members differ from their base
  * only in one doubled inter-word space, so their texts are distinct
  * (exact dedup keeps them) while their word shingles are identical (the
  * MinHash pairs find them with certainty). Documents 0-99 are long, so
  * the build's own planted tail mutations of documents 0-9 and 20-23
  * stay near-duplicates of their originals too.
  */
object CorpusGen {

  final case class Sizes(docs: Int)

  final case class Doc(id: Long, text: String, source: String)

  /** Ledger rows (step, n_in, n_kept) in build order, plus the shard
    * totals and the planted clusters (member ids).
    */
  final case class Expect(ledger: Seq[(String, Long, Long)], shardRows: Long,
                          shardWeight: Long, clusters: Seq[Seq[Long]])

  private val Salt = "corpus"
  private val TrainBuckets = 204

  def words(text: String): Array[String] = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** Sampling.bucket256 of a key: the first md5 byte of key ++ salt. */
  def bucket256(key: String, salt: String): Int =
    MessageDigest.getInstance("MD5").digest((key + salt).getBytes(UTF_8))(0) & 0xff

  def generate(dir: File, seed: Long, sz: Sizes): Expect = {
    val r = rng(seed, 1)
    val vocab: IndexedSeq[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < 4000)
        seen += Iterator.fill(2 + r.nextInt(8))(('a' + r.nextInt(26)).toChar).mkString
      seen.toIndexedSeq
    }
    val sources = (0 until 24).map(i => s"src$i")
    def text(n: Int): String = Iterator.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")

    val docs = mutable.ArrayBuffer.empty[Doc]
    val clusters = mutable.ArrayBuffer.empty[Seq[Long]]
    val plainIds = mutable.ArrayBuffer.empty[Int] // singletons that may be copied
    def add(t: String): Unit = docs += Doc(docs.size.toLong, t, pick(r, sources))
    while (docs.size < 100) add(text(250 + r.nextInt(100)))
    while (docs.size < sz.docs) {
      val k = r.nextInt(100)
      if (k == 0) add(text(1 + r.nextInt(4)))                                    // fails word bounds
      else if (k == 1) add(Iterator.fill(5 + r.nextInt(20))(('a' + r.nextInt(26)).toChar.toString).mkString(" ")) // fails word length
      else if (k == 2 && plainIds.nonEmpty) add(docs(plainIds(r.nextInt(plainIds.size))).text) // exact duplicate
      else if (k < 6) {
        val size = 2 + r.nextInt(3)
        val base = text(30 + r.nextInt(90))
        val gaps = base.indices.filter(base(_) == ' ')
        // member j doubles the j-th chosen space; member 0 is the base
        val cuts = new scala.util.Random(r.nextLong()).shuffle(gaps).take(size - 1)
        val variants = base +: cuts.map(i => base.substring(0, i) + " " + base.substring(i))
        val order = new scala.util.Random(r.nextLong()).shuffle(variants)
        val ids = order.map { t => add(t); docs.size - 1L }
        clusters += ids
      } else { plainIds += docs.size; add(text(30 + r.nextInt(90))) }
    }
    // a source whose stage-2 pass rate (2 of 6) fails the 2/3 screen
    Seq(3, 2, 4, 60, 3, 70).foreach(n => docs += Doc(docs.size.toLong, text(n), "srcspam"))

    writeParquet(new File(dir, "documents.parquet"),
      "message documents { required int64 doc_id; required binary text (STRING); " +
        "required binary lang (STRING); required binary source (STRING); required int64 n_chars; }",
      docs.iterator.map(d => (f: org.apache.parquet.example.data.simple.SimpleGroupFactory) =>
        f.newGroup().append("doc_id", d.id).append("text", d.text).append("lang", "en")
          .append("source", d.source).append("n_chars", d.text.length.toLong)))

    val e = expect(docs.toSeq, clusters.toSeq)
    writeText(new File(dir, "expected.json")) { out =>
      out.write(Json.render(Map("seed" -> seed, "docs" -> docs.size,
        "ledger" -> e.ledger.map { case (s, i, k) => Seq(s, i, k) },
        "shard_rows" -> e.shardRows, "shard_weight" -> e.shardWeight,
        "clusters" -> e.clusters)))
      out.write('\n')
    }
    e
  }

  /** The ledger of the composed build over `docs`, following the stage
    * definitions of `q215_corpus_build`: the build appends its own tail
    * mutations of documents 0-9 and 20-23 before the WARC round trip.
    */
  def expect(base: Seq[Doc], planted: Seq[Seq[Long]]): Expect = {
    val byId = base.map(d => d.id -> d).toMap
    val extra = (0L until 10L).flatMap(byId.get).map(d =>
        Doc(d.id + 910000L, d.text + " mutated tail token", d.source)) ++
      (20L until 24L).flatMap(byId.get).flatMap(d => Seq(
        Doc(d.id + 920000L, d.text + " chain tail one", d.source),
        Doc(d.id + 930000L, d.text + " chain tail one two", d.source)))
    val all = base ++ extra
    val groups = planted ++
      (0L until 10L).filter(byId.contains).map(d => Seq(d, d + 910000L)) ++
      (20L until 24L).filter(byId.contains).map(d => Seq(d, d + 920000L, d + 930000L))

    val nw = all.map(d => d.id -> words(d.text)).toMap
    val s1 = all.filter { d => val n = nw(d.id).length; n >= 5 && n <= 100000 }
    val s2 = s1.filter { d =>
      val w = nw(d.id); val sum = w.map(_.length.toLong).sum
      sum * 10 >= w.length * 20L && sum * 10 <= w.length * 120L
    }
    val firstOfText = s2.groupBy(_.text).values.map(_.map(_.id).min).toSet
    val s3 = s2.filter(d => firstOfText(d.id))
    val hd = all.groupBy(_.source).map { case (s, ds) => s -> ds.size.toLong }
    val hp = s2.groupBy(_.source).map { case (s, ds) => s -> ds.size.toLong }
    val s4 = s3.filter { d =>
      val n = hd(d.source); n < 3 || hp.getOrElse(d.source, 0L) * 3 >= n * 2
    }
    val keptIds = s4.map(_.id).toSet
    val comp = mutable.HashMap.empty[Long, Long]
    groups.foreach { g =>
      val in = g.filter(keptIds)
      if (in.size > 1) in.foreach(id => comp(id) = in.min)
    }
    def component(id: Long): Long = comp.getOrElse(id, id)
    val train = s4.filter(d => bucket256(component(d.id).toString, Salt) < TrainBuckets)
    val canon = train.filter(d => component(d.id) == d.id)
    val n = canon.map(d => d.id -> nw(d.id).length.toLong).toMap
    val budget = n.values.sum / 2
    var cum = 0L
    val sel = canon.sortBy(d => (-(d.text.length % 256), d.id)).takeWhile { d =>
      cum += n(d.id); cum <= budget
    }
    val ledger = Seq(
      ("warc_parse", all.size.toLong, all.size.toLong),
      ("word_bounds", all.size.toLong, s1.size.toLong),
      ("word_len", s1.size.toLong, s2.size.toLong),
      ("exact_dedup", s2.size.toLong, s3.size.toLong),
      ("source_rate", s3.size.toLong, s4.size.toLong),
      ("split_train", s4.size.toLong, train.size.toLong),
      ("near_dup", train.size.toLong, canon.size.toLong),
      ("budget", canon.size.toLong, sel.size.toLong))
    Expect(ledger, sel.size.toLong, sel.map(d => n(d.id)).sum, planted)
  }
}
