package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every input a workload hands to graft comes
  * from here, and the same seed always yields the same inputs. Each
  * generator draws from its own stream (`seed` mixed with a salt), so
  * resizing one input never reshuffles another. */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  // ---- lake_ingest: the events source table, in watermark intervals ----

  final case class Event(eventId: Long, tsMs: Long, userId: Long,
      eventType: String, value: Double, props: String) {
    def key: String = s"$eventId|$tsMs|$userId|$eventType|$value|$props"
  }
  final case class Interval(upperMs: Long, rows: IndexedSeq[Event])

  val EventTypes = IndexedSeq("click", "view", "purchase", "signup", "logout")
  val BaseMs = 1704067200000L // 2024-01-01T00:00:00Z
  val IntervalMs = 3600000L

  /** `n` watermark intervals, `blockRows` rows per block of `block`
    * consecutive intervals. Every block splits its rows by the same
    * heavy-tailed profile (Pareto quantiles, alpha 1.2: most intervals
    * small, one carrying a large share), in a seeded order, so medians
    * and throughput over whole blocks compare across seeds. The last row
    * of each interval sits exactly on its upper bound, which is the
    * watermark the run must record. */
  def events(seed: Long, n: Int, block: Int, blockRows: Int): IndexedSeq[Interval] = {
    val r = rng(seed, 1)
    val w = (0 until block).map(i => math.pow(1.0 - (i + 0.5) / block, -1.0 / 1.2))
    val raw = w.map(x => math.max(1, (x / w.sum * blockRows).toInt))
    val profile = raw.updated(block - 1, raw.last + blockRows - raw.sum)
    var nextId = 1L
    (0 until n).grouped(block).flatMap { idx =>
      val sizes = shuffle(r, profile)
      idx.zip(sizes).map { case (i, size) =>
        val lo = BaseMs + i * IntervalMs
        val hi = lo + IntervalMs
        val ts = (0 until size - 1).map(_ => lo + 1 + r.nextLong(IntervalMs - 1)).sorted :+ hi
        Interval(hi, ts.map { t =>
          val e = Event(nextId, t, 1L + r.nextInt(5000), EventTypes(r.nextInt(EventTypes.size)),
            r.nextInt(1000000) / 100.0, s"""{"k":${r.nextInt(100)}}""")
          nextId += 1
          e
        })
      }
    }.toIndexedSeq
  }

  /** Binary objects for one file-pattern batch: (name, bytes). */
  def objects(seed: Long, batch: Int, n: Int): IndexedSeq[(String, Array[Byte])] = {
    val r = rng(seed, 1000L + batch)
    (0 until n).map { i =>
      val b = new Array[Byte](256 + r.nextInt(3840))
      b.indices.foreach(j => b(j) = r.nextInt(256).toByte)
      (f"obj-$batch%03d-$i%02d.bin", b)
    }
  }

  /** Concatenated-JSON objects for one stream-pattern batch:
    * (name, body, the events the body holds). */
  def streamObjects(seed: Long, batch: Int, n: Int): IndexedSeq[(String, String, Seq[String])] = {
    val r = rng(seed, 2000L + batch)
    (0 until n).map { i =>
      val evs = (0 until 5 + r.nextInt(20)).map(j =>
        s"""{"batch":$batch,"obj":$i,"seq":$j,"v":${r.nextInt(1000)}}""")
      (f"evt-$batch%03d-$i%02d.json", evs.mkString, evs)
    }
  }

  // ---- text corpora ----

  /** A fixed pseudo-word vocabulary, drawn from its own stream. */
  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 3)
    val syll = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "an",
      "el", "or", "us", "qua", "pre", "tor", "gen", "dal", "fin", "mor", "bel")
    Iterator.continually((0 until 2 + r.nextInt(3)).map(_ =>
      syll(r.nextInt(syll.size))).mkString).distinct.take(n).toIndexedSeq
  }

  /** Zipf-ish word draw: low indices are common. */
  private def word(r: SplittableRandom, vocab: IndexedSeq[String]): String =
    vocab(math.min(vocab.size - 1, (math.pow(r.nextDouble(), 2.5) * vocab.size).toInt))

  def text(r: SplittableRandom, vocab: IndexedSeq[String], lo: Int, hi: Int): String =
    (0 until lo + r.nextInt(hi - lo + 1)).map(_ => word(r, vocab)).mkString(" ")

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  /** A planted near-duplicate: `copy` is `orig` with `edits` words
    * replaced at distinct positions. */
  final case class Planted(orig: Long, copy: Long, edits: Int)

  final case class Corpus(docs: IndexedSeq[Doc], nearDups: IndexedSeq[Planted])

  val Langs = IndexedSeq("en", "de", "fr", "es")
  val Sources = IndexedSeq("web", "books", "news", "forum")

  /** `n` distinct documents, then ~`exactFrac` exact copies and
    * ~`nearFrac` near-copies of distinct originals, with edit counts
    * drawn from `editRange` so true Jaccard straddles the dedup
    * threshold. Copies take fresh ids; row order is shuffled. */
  def corpus(seed: Long, n: Int, exactFrac: Double, nearFrac: Double,
      editRange: Range, vocab: IndexedSeq[String]): Corpus = {
    val r = rng(seed, 4)
    val base = (0 until n).map(i => Doc(i.toLong, text(r, vocab, 30, 60),
      Langs(r.nextInt(Langs.size)), Sources(r.nextInt(Sources.size))))
    val nExact = (n * exactFrac).toInt
    val nNear = (n * nearFrac).toInt
    val origs = shuffle(r, base.indices).take(nExact + nNear)
    var nextId = n.toLong
    val exact = origs.take(nExact).map { i =>
      nextId += 1
      base(i).copy(docId = nextId)
    }
    val planted = IndexedSeq.newBuilder[Planted]
    val near = origs.drop(nExact).map { i =>
      val ws = base(i).text.split(" ")
      val edits = editRange(r.nextInt(editRange.size))
      shuffle(r, ws.indices).take(edits).foreach { p =>
        var w = word(r, vocab)
        while (w == ws(p)) w = word(r, vocab)
        ws(p) = w
      }
      nextId += 1
      planted += Planted(base(i).docId, nextId, edits)
      base(i).copy(docId = nextId, text = ws.mkString(" "))
    }
    Corpus(shuffle(r, base ++ exact ++ near), planted.result())
  }

  def shuffle[A](r: SplittableRandom, xs: IndexedSeq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Distinct word 3-gram shingles, exactly as graft's dedup verifies
    * them (single-space split; a short doc is one clamped shingle). */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length < n) Set(w.mkString(" "))
    else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.intersect(y).size
    inter.toDouble / (x.size + y.size - inter).toDouble
  }

  /** Customer names with planted one-edit typos: (id, name) rows and the
    * (original id, typo id) pairs an ed <= 1 join must link. */
  def customers(seed: Long, n: Int, typoFrac: Double)
      : (IndexedSeq[(Long, String)], IndexedSeq[(Long, Long)]) = {
    val r = rng(seed, 5)
    val first = IndexedSeq("Ana", "Boris", "Chen", "Dara", "Emil", "Fatima", "Goran",
      "Hana", "Ivo", "Jun", "Kira", "Lev", "Mina", "Nils", "Olga", "Pavel")
    val letters = "abcdefghijklmnopqrstuvwxyz"
    def surname(): String = (0 until 6 + r.nextInt(5)).map(_ =>
      letters(r.nextInt(letters.length))).mkString.capitalize
    val names = Iterator.continually(s"${first(r.nextInt(first.size))} ${surname()}")
      .distinct.take(n).toIndexedSeq
    val base = names.zipWithIndex.map { case (s, i) => (i.toLong + 1, s) }
    val picks = shuffle(r, base.indices).take((n * typoFrac).toInt)
    val typos = picks.zipWithIndex.map { case (i, j) =>
      val s = base(i)._2
      val p = 1 + r.nextInt(s.length - 1)
      val c = letters(r.nextInt(letters.length))
      val t = r.nextInt(3) match {
        case 0 => s.substring(0, p) + c + s.substring(p)          // insert
        case 1 => s.substring(0, p) + s.substring(p + 1)          // delete
        case _ =>                                                  // substitute
          val c2 = if (c == s(p)) letters((letters.indexOf(c) + 1) % 26) else c
          s.substring(0, p) + c2 + s.substring(p + 1)
      }
      ((n + j + 1).toLong, t)
    }
    (shuffle(r, base ++ typos),
      picks.zip(typos).map { case (i, (tid, _)) => (base(i)._1, tid) })
  }

  // ---- index_serve: aligned text + vector corpus and the request stream ----

  /** `n` vectors of `dim` floats: 16 seeded centres, each with 16 seeded
    * sub-centres, plus small per-vector noise — so every vector has a
    * well-separated neighbourhood of ~n/256 vectors. */
  def vectors(seed: Long, n: Int, dim: Int): IndexedSeq[Array[Float]] = {
    val r = rng(seed, 6)
    val centres = (0 until 16).map(_ => Array.fill(dim)(r.nextDouble(-1.0, 1.0)))
    val subs = centres.map(c => (0 until 16).map(_ => c.map(_ + r.nextDouble(-0.3, 0.3))))
    (0 until n).map { _ =>
      val c = subs(r.nextInt(subs.size))(r.nextInt(16))
      c.map(x => (math.round((x + r.nextDouble(-0.05, 0.05)) * 1000) / 1000.0).toFloat)
    }
  }

  /** `n` text queries of three corpus words each, and `n` query vectors:
    * corpus vectors with small seeded noise. */
  def queries(seed: Long, salt: Long, n: Int, texts: IndexedSeq[String],
      vecs: IndexedSeq[Array[Float]]): IndexedSeq[(String, Array[Float])] = {
    val r = rng(seed, 100L + salt)
    (0 until n).map { _ =>
      val ws = texts(r.nextInt(texts.size)).split(" ")
      val q = (0 until 3).map(_ => ws(r.nextInt(ws.length))).mkString(" ")
      val v = vecs(r.nextInt(vecs.size)).map(x =>
        (math.round((x + r.nextDouble(-0.05, 0.05)) * 1000) / 1000.0).toFloat)
      (q, v)
    }
  }

  /** A request stream of `groups` groups of `per` requests: one append
    * ('A') at a seeded position in each group, retrieves ('R') around it. */
  def requests(seed: Long, groups: Int, per: Int): IndexedSeq[Char] = {
    val r = rng(seed, 7)
    (0 until groups).flatMap { _ =>
      val a = r.nextInt(per)
      (0 until per).map(i => if (i == a) 'A' else 'R')
    }
  }
}
