package perfbench

import java.util.SplittableRandom
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded input generators. Everything here is plain Scala plus avro-java;
  * nothing calls the program, so the expected outputs built here are an
  * independent reference for the output checks.
  */
object Gen {

  /** Row `i` of seed `seed` gets its own stream: rows can be generated in
    * any partitioning and still come out identical.
    */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 1) *
      0xC2B2AE3D27D4EB4FL)

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  def word(r: SplittableRandom, min: Int, max: Int): String = {
    val n = min + r.nextInt(max - min + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(letters.charAt(r.nextInt(26))); i += 1 }
    sb.toString
  }

  // ------------------------------------------------------------ person

  /** The reference benchmark's record: 4 strings, a long, an enum, a
    * nested record of 7 longs and a string array. v1 writes `Age` as an
    * int and carries a writer-only `Legacy` field.
    */
  val personV1: String = """{"name":"person","type":"record","fields":[
    {"name":"FirstName","type":"string"},{"name":"LastName","type":"string"},
    {"name":"Occupation","type":"string"},{"name":"Title","type":"string"},
    {"name":"Age","type":"int"},
    {"name":"Sex","type":{"type":"enum","name":"Sex",
      "symbols":["FEMALE","MALE"]}},
    {"name":"Stats","type":{"type":"record","name":"Stats","fields":[
      {"name":"Strength","type":"long"},{"name":"Perception","type":"long"},
      {"name":"Endurance","type":"long"},{"name":"Charisma","type":"long"},
      {"name":"Intelligence","type":"long"},{"name":"Agility","type":"long"},
      {"name":"Luck","type":"long"}]}},
    {"name":"Journal","type":{"type":"array","items":"string"}},
    {"name":"Legacy","type":"long"}]}"""

  /** v2 evolves v1: `FirstName` renamed through an alias, `Age` promoted
    * int→long, a `Sex` symbol added, `Country` added with a default and
    * `Legacy` dropped.
    */
  val personV2: String = """{"name":"person","type":"record","fields":[
    {"name":"GivenName","type":"string","aliases":["FirstName"]},
    {"name":"LastName","type":"string"},
    {"name":"Occupation","type":"string"},{"name":"Title","type":"string"},
    {"name":"Age","type":"long"},
    {"name":"Sex","type":{"type":"enum","name":"Sex",
      "symbols":["FEMALE","MALE","OTHER"]}},
    {"name":"Stats","type":{"type":"record","name":"Stats","fields":[
      {"name":"Strength","type":"long"},{"name":"Perception","type":"long"},
      {"name":"Endurance","type":"long"},{"name":"Charisma","type":"long"},
      {"name":"Intelligence","type":"long"},{"name":"Agility","type":"long"},
      {"name":"Luck","type":"long"}]}},
    {"name":"Journal","type":{"type":"array","items":"string"}},
    {"name":"Country","type":"string","default":"ZZ"}]}"""

  val statNames: Seq[String] = Seq("Strength", "Perception", "Endurance",
    "Charisma", "Intelligence", "Agility", "Luck")

  /** About 1 % of rows arrive with no payload: decoded, they are a
    * record with every field missing, which validation must reject.
    */
  def personInvalid(seed: Long, i: Long): Boolean =
    rng(seed, i).nextInt(100) == 0

  /** Encodes row `i` as (v1 bytes, expected v2 bytes); both null for a
    * planted invalid row. One instance per partition: avro writers are
    * not thread-safe.
    */
  final class PersonCodec {
    private val v1 = new Schema.Parser().parse(personV1)
    private val v2 = new Schema.Parser().parse(personV2)
    private val w1 = new GenericDatumWriter[GenericRecord](v1)
    private val w2 = new GenericDatumWriter[GenericRecord](v2)
    private val out = new java.io.ByteArrayOutputStream()
    private var enc: org.apache.avro.io.BinaryEncoder = null

    private def bytes(w: GenericDatumWriter[GenericRecord],
        rec: GenericRecord): Array[Byte] = {
      out.reset()
      enc = EncoderFactory.get().binaryEncoder(out, enc)
      w.write(rec, enc)
      enc.flush()
      out.toByteArray
    }

    def row(seed: Long, i: Long): (Array[Byte], Array[Byte]) = {
      if (personInvalid(seed, i)) return (null, null)
      val r = rng(seed, i)
      r.nextInt(100) // the invalid-row draw
      val first = word(r, 2, 14)
      val last = word(r, 2, 20)
      val occupation = word(r, 4, 24)
      val title = word(r, 0, 6)
      val age = r.nextInt(120)
      val sex = if (r.nextBoolean()) "FEMALE" else "MALE"
      val stats = statNames.map(_ => r.nextLong(-1000000L, 1000000L))
      val journal = Seq.fill(r.nextInt(13))(word(r, 0, 40)).asJava
      val legacy = r.nextLong()
      val a = new GenericData.Record(v1)
      a.put("FirstName", first); a.put("LastName", last)
      a.put("Occupation", occupation); a.put("Title", title)
      a.put("Age", age)
      a.put("Sex", new GenericData.EnumSymbol(v1.getField("Sex").schema, sex))
      val s1 = new GenericData.Record(v1.getField("Stats").schema)
      statNames.zip(stats).foreach { case (n, v) => s1.put(n, v) }
      a.put("Stats", s1); a.put("Journal", journal); a.put("Legacy", legacy)
      val b = new GenericData.Record(v2)
      b.put("GivenName", first); b.put("LastName", last)
      b.put("Occupation", occupation); b.put("Title", title)
      b.put("Age", age.toLong)
      b.put("Sex", new GenericData.EnumSymbol(v2.getField("Sex").schema, sex))
      val s2 = new GenericData.Record(v2.getField("Stats").schema)
      statNames.zip(stats).foreach { case (n, v) => s2.put(n, v) }
      b.put("Stats", s2); b.put("Journal", journal); b.put("Country", "ZZ")
      (bytes(w1, a), bytes(w2, b))
    }
  }

  // ------------------------------------------------------------ corpus

  /** Synthetic web text: Zipf-distributed words from a seeded
    * vocabulary, with planted exact copies, planted near copies and, when
    * `familySize > 0`, one boilerplate family (a 150-word template, each
    * member ending in three words of its own) big enough to overflow a
    * MinHash bucket: over 90 % of the members keep the template's value in
    * every band, and the rest land in buckets of their own.
    */
  final case class Corpus(docs: IndexedSeq[(Long, String)],
      copyIds: Set[Long], nearPairs: IndexedSeq[(Long, Long)])

  final class Words(seed: Long, vocab: Int) {
    private val r = rng(seed, -1L)
    private val words = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < vocab) seen += word(r, 2, 10)
      seen.toIndexedSeq
    }
    private val cdf = {
      val w = (1 to vocab).map(k => 1.0 / k)
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(vocab - 1, if (i >= 0) i else -i - 1))
    }
    def text(r: SplittableRandom, min: Int, max: Int): Array[String] =
      Array.fill(min + r.nextInt(max - min + 1))(draw(r))
  }

  /** `n` word edits spread over the text (substitute, insert or delete). */
  def edit(ws: Array[String], n: Int, r: SplittableRandom,
      words: Words): Array[String] = {
    val b = mutable.ArrayBuffer.from(ws)
    for (_ <- 0 until n) {
      val at = r.nextInt(b.size)
      r.nextInt(3) match {
        case 0 => b(at) = words.draw(r) + "x"
        case 1 => b.insert(at, words.draw(r) + "y")
        case _ => if (b.size > 12) b.remove(at) else b(at) = "z" + b(at)
      }
    }
    b.toArray
  }

  def corpus(seed: Long, nBase: Int, familySize: Int): Corpus = {
    val words = new Words(seed, 5000)
    val r = rng(seed, -2L)
    val seen = mutable.HashSet.empty[String]
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    def add(t: String): Long = { docs += ((id, t)); id += 1; id - 1 }
    def fresh(make: => Array[String]): String = {
      var t = make.mkString(" ")
      while (seen.contains(t)) t = make.mkString(" ")
      seen += t
      t
    }
    val copies = Set.newBuilder[Long]
    val near = IndexedSeq.newBuilder[(Long, Long)]
    for (_ <- 0 until nBase) {
      val ws = words.text(r, 30, 150)
      val text = fresh(ws)
      val base = add(text)
      val roll = r.nextInt(100)
      if (roll < 4) for (_ <- 0 to r.nextInt(2)) copies += add(text)
      else if (roll < 12)
        near += ((base, add(fresh(edit(ws, math.max(1, ws.length / 25), r,
          words)))))
    }
    val template = words.text(r, 150, 150)
    for (_ <- 0 until familySize)
      add(fresh(template ++ Array.fill(3)(word(r, 6, 9))))
    // shuffle ids so keepers and copies are not ordered by construction
    val perm = (0 until docs.size).toArray
    for (i <- perm.indices.reverse) {
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val idOf = (k: Long) => perm(k.toInt).toLong
    val shuffled = docs.map { case (k, t) => (idOf(k), t) }.sortBy(_._1)
    val copySet = copies.result()
    // a copy group's keeper is its min id after the shuffle
    val groups = docs.groupBy(_._2).values.filter(_.size > 1)
    val nonKeepers = groups.flatMap { g =>
      val ids = g.map(d => idOf(d._1)); ids.filter(_ != ids.min) }.toSet
    require(nonKeepers.size == copySet.size, "unplanted exact duplicate")
    Corpus(shuffled.toIndexedSeq, nonKeepers,
      near.result().map { case (a, b) =>
        val (x, y) = (idOf(a), idOf(b)); (math.min(x, y), math.max(x, y)) })
  }

  // -------------------------------------------------------------- feed

  /** Batches landing after the corpus, with the exact-dedup status each
    * batch must produce, and a fixed query set.
    */
  final case class Feed(batches: IndexedSeq[IndexedSeq[(Long, String)]],
      tallies: IndexedSeq[Map[String, Long]], queries: IndexedSeq[String])

  /** Per batch: about 10 % copies of corpus docs (`dup_of_corpus`), about
    * 5 % new docs landing twice (the second copy is `dup_in_batch`), the
    * rest new docs (`new`). No content repeats across batches.
    */
  def feed(seed: Long, corpus: Corpus, batches: Int,
      perBatch: Int): Feed = {
    val words = new Words(seed, 5000)
    val r = rng(seed, -3L)
    val seen = mutable.HashSet.from(corpus.docs.map(_._2))
    def fresh(): String = {
      var t = words.text(r, 30, 150).mkString(" ")
      while (seen.contains(t)) t = words.text(r, 30, 150).mkString(" ")
      seen += t
      t
    }
    var id = corpus.docs.map(_._1).max + 1
    val out = (0 until batches).map { _ =>
      val b = mutable.ArrayBuffer.empty[(Long, String, String)]
      def add(t: String, status: String): Unit = { b += ((id, t, status)); id += 1 }
      while (b.size < perBatch) {
        val roll = r.nextInt(100)
        if (roll < 10)
          add(corpus.docs(r.nextInt(corpus.docs.size))._2, "dup_of_corpus")
        else if (roll < 15 && b.size + 2 <= perBatch) {
          val t = fresh(); add(t, "new"); add(t, "dup_in_batch")
        } else add(fresh(), "new")
      }
      b.toIndexedSeq
    }
    Feed(out.map(_.map { case (i, t, _) => (i, t) }),
      out.map(_.groupBy(_._3).map { case (s, xs) => s -> xs.size.toLong }),
      IndexedSeq.fill(40)(Array.fill(2 + r.nextInt(3))(words.draw(r))
        .mkString(" ")))
  }

  // ---------------------------------------------------- plain Jaccard

  /** Word 3-gram Jaccard on lowercased, whitespace-split text (texts of
    * fewer than three words are one shingle), computed on strings.
    */
  def shingleSet(text: String): Set[String] = {
    val ws = text.trim.toLowerCase.split("\\s+")
    if (ws.length < 3) Set(ws.mkString(" "))
    else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingleSet(a), shingleSet(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  /** Order-independent digest of (id, text) pairs. */
  def digest(docs: Iterable[(Long, String)]): Long =
    docs.iterator.map { case (i, t) =>
      (scala.util.hashing.MurmurHash3.stringHash(t).toLong << 32) ^
        (i * 0x9E3779B97F4A7C15L)
    }.foldLeft(0L)(_ ^ _)
}
