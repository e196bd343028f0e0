package graftbench

/** Output checks, as pure functions over collected results so each can
  * be tested against a corrupted result (see [[SelfTest]]). Every check
  * returns the failures it found; empty means the output is correct. */
object Checks {

  // ---- lake_ingest ----

  /** The landing holds exactly the generated rows: same count, no
    * duplicate event id (the key's first field), same order-independent
    * fingerprint. */
  def landing(landed: Seq[String], generated: Seq[String]): Seq[String] =
    Seq(
      Option.when(landed.size != generated.size)(
        s"landing holds ${landed.size} rows, generated ${generated.size}"),
      Option.when(landed.map(_.takeWhile(_ != '|')).distinct.size != landed.size)(
        "landing holds duplicate event_id values"),
      Option.when(Fingerprint.of(landed) != Fingerprint.of(generated))(
        "landing fingerprint differs from the generator's")).flatten

  /** One run record per database step, each with its interval's upper
    * bound as watermark. */
  def runRecords(what: String, got: Seq[(String, Option[Long])],
      want: Map[String, Long]): Seq[String] =
    Option.when(got.size != want.size || got.toMap != want.map { case (k, v) => k -> Some(v) })(
      s"$what: ${got.size} run records for ${want.size} steps, or a wrong watermark").toSeq

  /** The file landing equals the generated objects, byte for byte. */
  def objects(got: Seq[(String, Seq[Byte])], want: Map[String, Seq[Byte]]): Seq[String] =
    Option.when(got.size != want.size || got.toMap != want)(
      s"file landing: ${got.size} objects, generated ${want.size}").toSeq

  /** The stream landing equals the generated events (as a multiset). */
  def events(got: Seq[(String, String)], want: Seq[(String, String)]): Seq[String] =
    Option.when(got.sorted != want.sorted)(
      s"stream landing: ${got.size} events, generated ${want.size}").toSeq

  // ---- corpus_curate ----

  final case class Curated(inRows: Long, afterExact: Long, pairs: Seq[(Long, Long)],
      comps: Seq[(Long, Long)], outRows: Long, entities: Map[Long, Long])

  /** Exact-dup removals equal the independent count; no reported pair is
    * below the threshold by true Jaccard; every planted one-edit name
    * pair is linked; output rows = input rows - removed rows. */
  def curation(r: Curated, exactRemoved: Long, jaccard: (Long, Long) => Double,
      threshold: Double, typos: Seq[(Long, Long)]): Seq[String] = {
    val inClusters = r.comps.map(_._1).distinct.size - r.comps.map(_._2).distinct.size
    Seq(
      Option.when(r.inRows - r.afterExact != exactRemoved)(
        s"exact dedup removed ${r.inRows - r.afterExact}, group-by count says $exactRemoved"),
      r.pairs.find { case (a, b) => jaccard(a, b) < threshold }
        .map(p => s"reported pair $p is below the threshold $threshold"),
      typos.find { case (a, b) => r.entities.get(a).isEmpty || r.entities.get(a) != r.entities.get(b) }
        .map(p => s"planted one-edit name pair $p is not linked"),
      Option.when(r.outRows != r.afterExact - inClusters)(
        s"wrote ${r.outRows} rows, expected ${r.afterExact} - $inClusters removed")).flatten
  }

  // ---- index_serve ----

  /** Two result sets (rows rendered as strings) are equal as multisets. */
  def sameRows(what: String, a: Seq[String], b: Seq[String]): Seq[String] =
    Option.when(a.sorted != b.sorted)(s"$what: ${a.size} vs ${b.size} rows, not equal").toSeq

  /** Mean share of each query's exact top-k that the approximate top-k found. */
  def recall(approx: Map[Long, Set[Long]], exact: Map[Long, Set[Long]], k: Int): Double =
    if (exact.isEmpty) 0.0
    else exact.map { case (q, e) => approx.getOrElse(q, Set()).intersect(e).size.toDouble / k }
      .sum / exact.size
}

/** Order-independent fingerprint of a multiset of row keys. */
object Fingerprint {
  def of(keys: Iterable[String]): Long =
    keys.foldLeft(0L)((acc, k) => acc + scala.util.hashing.MurmurHash3.stringHash(k).toLong * 0x9E3779B1L)
}
