package graft.feedgen

import graft.model.{CdcEvent, CdcSchema}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic, seeded generator of the CDC change log (FIXTURES.md F1).
  *
  * Reference analog: the Telegram change feed the reference tails in
  * pages (/root/reference/convoetl/extractors/telegram.py:88–148). Here
  * the feed is synthesized: Common-Crawl-style urls with Zipf-skewed
  * domains (hot-key realism for the merge's skew bound), inserts / updates /
  * deletes per url over time, out-of-order `warc_ts`, exact duplicate
  * redeliveries, equal-`warc_ts` ties broken only by `seq`, and an
  * additive column (`extra_score`) appearing mid-stream.
  *
  * Every event is a pure function of (seed, seq): generation is
  * embarrassingly parallel via `spark.range` — no driver-side loop, so
  * the same generator scales from the 10^4-event test tier to a
  * 10^10-event posture by raising `n` and parallelism only.
  */
object FeedGen {

  final case class Config(
      seed: Long = 42L,
      n: Long = 100000L,
      nDomains: Int = 1000,
      pathsPerDomain: Int = 50,
      zipfSkew: Double = 1.1,
      deleteRate: Double = 0.07,
      dupRate: Double = 0.03,
      tieRate: Double = 0.05,
      emptyTextRate: Double = 0.02,
      /** seq at which extra_score (schema v2) starts appearing. */
      evolveAt: Long = Long.MaxValue,
      segments: Int = 8)

  // --- deterministic PRNG ----------------------------------------------
  // splitmix64: stable across JVMs/platforms (public-domain algorithm,
  // Steele et al., "Fast Splittable Pseudorandom Number Generators").
  private def mix(zIn: Long): Long = {
    var z = zIn + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** k-th derived uniform double in [0,1) for (seed, seq). */
  private def u(seed: Long, seq: Long, k: Int): Double =
    ((mix(mix(seed ^ (seq * 0x9e3779b97f4a7c15L)) + k) >>> 11).toDouble
      / (1L << 53).toDouble)
  private def uLong(seed: Long, seq: Long, k: Int): Long =
    mix(mix(seed ^ (seq * 0x9e3779b97f4a7c15L)) + k)

  /** Zipf-ish rank sampler: floor(n^u) is log-uniform → rank 0 is the
    * hot key (crawl-heavy domain), matching the north_rule skew posture.
    */
  private def zipf(uu: Double, n: Int): Int = {
    val r = math.floor(math.pow(n.toDouble, uu)).toInt - 1
    math.min(math.max(r, 0), n - 1)
  }

  private val words: Array[String] = Array(
    "the", "of", "and", "to", "in", "data", "web", "page", "crawl",
    "open", "text", "stream", "merge", "commit", "snapshot", "index",
    "query", "scale", "spark", "engine", "lake", "table", "event",
    "update", "delete", "schema", "shuffle", "partition", "salt",
    "watermark", "héllo", "naïve", "🚀", "日本語", "résumé", "emoji😀")

  private val langs = Array("en", "de", "fr", "es", "ja", "und")

  val BaseMs: Long = 1735689600000L // 2025-01-01T00:00:00Z

  /** The pure event function. Duplicate redeliveries: a "dup" seq emits a
    * byte-identical copy of the previous seq's event (same seq value —
    * a true at-least-once redelivery the collapse must absorb).
    */
  def event(cfg: Config, seqIn: Long): CdcEvent = {
    val isDup = seqIn > 0 && u(cfg.seed, seqIn, 0) < cfg.dupRate
    val seq = if (isDup) seqIn - 1 else seqIn
    val s = cfg.seed
    val domain = zipf(u(s, seq, 1), cfg.nDomains)
    val path = zipf(u(s, seq, 2), cfg.pathsPerDomain)
    val url = s"https://d$domain.example.com/page/$path"
    val isDelete = u(s, seq, 3) < cfg.deleteRate
    val op =
      if (isDelete) "D"
      else if (u(s, seq, 4) < 0.3) "I"
      else "U"
    // out-of-order: jitter of ±120s over a 1s/step clock; 5% of events
    // land on a coarse 10s grid to manufacture equal-warc_ts ties.
    val jitter = ((u(s, seq, 5) - 0.5) * 240000.0).toLong
    val tsMs0 = BaseMs + seq * 1000L + jitter
    val tsMs = if (u(s, seq, 6) < cfg.tieRate) (tsMs0 / 10000L) * 10000L else tsMs0
    val ts = new java.sql.Timestamp(tsMs)
    val lang = langs(((uLong(s, seq, 7) >>> 33) % langs.length).toInt)
    val (html, text) =
      if (isDelete) (null: Array[Byte], null: String)
      else if (u(s, seq, 8) < cfg.emptyTextRate) {
        val h = TextExtract.render("", Nil)
        (h, TextExtract.extract(h))
      } else {
        val nWords = 3 + (u(s, seq, 9) * 12).toInt
        val title = (0 until 3)
          .map(i => words(((uLong(s, seq, 20 + i) >>> 17) % words.length).toInt))
          .mkString(" ") + s" v$seq"
        val para = (0 until nWords)
          .map(i => words(((uLong(s, seq, 30 + i) >>> 13) % words.length).toInt))
          .mkString(" ")
        val h = TextExtract.render(title, Seq(para))
        (h, TextExtract.extract(h))
      }
    val extra =
      if (seq >= cfg.evolveAt && !isDelete) Some(math.rint(u(s, seq, 10) * 10000) / 10000.0)
      else None
    CdcEvent(seq, op, url, ts, html, text, lang, extra)
  }

  /** Distributed dataset of the full log in WAL order by `seqIn`. */
  def events(spark: SparkSession, cfg: Config): Dataset[CdcEvent] = {
    import spark.implicits._
    val c = cfg
    spark.range(0L, cfg.n).map(i => event(c, i))
  }

  /** Write the log as chunked parquet WAL segments `seg_%05d` under
    * `dir`. Segments whose whole seq-range precedes `evolveAt` are
    * written with schema v1 (no extra_score column) — the additive
    * schema-evolution fixture happens at the file level, exactly as a
    * real binlog archive would evolve.
    */
  /** The feed is a flat `wal/` directory of parquet segment FILES (the
    * file-stream source's native unit). Written as at most two jobs (one
    * per schema version) with ONE RANGE TASK PER SEGMENT: each task
    * generates only its contiguous seq slice and writes exactly one
    * file — no sort, no shuffle, no re-scan; generation parallelism ==
    * segment count at any n.
    */
  def writeSegments(spark: SparkSession, cfg: Config, dir: String,
                    format: String = "parquet"): Seq[String] = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(dir, "wal"))
    val per = math.max(1L, (cfg.n + cfg.segments - 1) / cfg.segments)
    val k1 = (0 until cfg.segments).count(g => (g + 1) * per <= cfg.evolveAt)
    val b = math.min(k1 * per, cfg.n) // v1/v2 boundary in seq space
    val c = cfg
    import spark.implicits._
    def gen(lo: Long, hi: Long, parts: Int) =
      spark.range(lo, hi, 1, parts).map(i => event(c, i)).toDF()
    var out = List.empty[String]
    if (b > 0)
      out ++= moveParts(
        write(gen(0L, b, k1).drop("extra_score"), s"$dir/.tmp_v1", format),
        s"$dir/wal", "a", format)
    if (b < cfg.n)
      out ++= moveParts(
        write(gen(b, cfg.n, cfg.segments - k1), s"$dir/.tmp_v2", format),
        s"$dir/wal", "b", format)
    out
  }

  /** Append one more WAL segment (tail arrival) from an event DataFrame. */
  def appendSegment(spark: SparkSession, dir: String,
                    df: org.apache.spark.sql.DataFrame, tag: String,
                    format: String = "parquet"): Seq[String] =
    moveParts(write(df, s"$dir/.tmp_$tag", format), s"$dir/wal", tag, format)

  private def write(df: org.apache.spark.sql.DataFrame, tmp: String,
                    format: String): String = {
    df.write.mode("overwrite").format(format).save(tmp)
    tmp
  }

  /** Move part files out of a temp write dir into wal/ as uniquely named
    * segment files; delete the temp dir.
    */
  private def moveParts(tmp: String, wal: String, tag: String,
                        format: String): List[String] = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    Files.createDirectories(Paths.get(wal))
    val parts = graft.FsUtil.listDir(Paths.get(tmp))(
      _.filter(_.getFileName.toString.endsWith(s".$format")).toList).sortBy(_.toString)
    val moved = parts.zipWithIndex.map { case (p, i) =>
      val dst = Paths.get(wal, f"seg_${tag}_$i%05d.$format")
      Files.move(p, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toString
    }
    graft.FsUtil.deleteTree(Paths.get(tmp))
    moved
  }

  /** Batch-read an entire feed directory (all segments), aligned to the
    * latest schema (missing columns → null).
    */
  def readFeed(spark: SparkSession, dir: String) =
    spark.read.schema(CdcSchema.latest).parquet(s"$dir/wal")
}
