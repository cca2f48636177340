package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of bronze NDJSON chunks — what the reference's stream
  * writes, one file per chunk — together with the independent oracle: the
  * number of rows the sink must gain from each chunk, known by
  * construction rather than by running the pipeline.
  *
  * Every line is either a fresh tweet body or, with probability 0.10, a
  * copy of an earlier body of the same chunk that differs only in its URL,
  * @mention or whitespace — all of which the T1-T5 cleaning strips — so a
  * copy collapses into its original under the keep-first dedup. Each fresh
  * body carries a nonce token, so two distinct bodies never clean to the
  * same content. A chunk therefore loads exactly the distinct bodies that
  * have at least one well-formed line with lang = "es", is_retweet = false
  * and one of the --keys hashtags.
  *
  * Mix per chunk: ~70% es (2% null lang), 15% retweets, 30% quote tweets,
  * 10% in-chunk duplicates, 0.3% corrupt (truncated) lines and 0.5%
  * malformed created_at values; text is Spanish with accented stopwords.
  */
object Bronze {
  /** The CLI's default --keys. */
  val keys = "#chile,#chiledesperto,#santiago"
  private val keyTags = Array("#chile", "#ChileDesperto", "#santiago", "#Santiago", "#CHILE")

  private val words = Array(
    "gobierno", "protesta", "canción", "política", "económico", "ciudad",
    "marcha", "pueblo", "derechos", "educación", "salud", "trabajo", "plaza",
    "metro", "estudiantes", "pensiones", "constitución", "cabildo", "noticia",
    "región", "música", "fútbol", "mañana", "noche", "camión", "línea", "calle",
    "acción", "dignidad", "barrio", "vecinos", "tarifa", "congreso", "ministro",
    "carabineros", "cacerolazo", "asamblea", "alameda", "futuro", "historia",
    "jóvenes", "familia", "sueldo", "boleta", "precio", "agua", "luz", "cobre",
    "océano", "cordillera", "invierno", "verano", "árbol", "niños", "árbitro")
  private val stopwords = Array(
    "de", "la", "que", "el", "en", "y", "los", "del", "se", "las", "por", "un",
    "para", "con", "no", "una", "su", "al", "más", "pero", "también", "él",
    "está", "muy", "sin", "sobre", "qué", "cuándo", "después", "así")
  private val sources = Array("Twitter for Android", "Twitter for iPhone",
    "Twitter Web App", "TweetDeck")
  private val places = Array("Santiago, Chile", "Valparaíso", "Concepción",
    "Antofagasta", "Temuco", "Chile")
  private val twitterTime =
    DateTimeFormatter.ofPattern("EEE MMM dd HH:mm:ss Z yyyy", Locale.US).withZone(ZoneOffset.UTC)

  /** What one chunk holds: its line count and the rows the sink must gain. */
  final case class Chunk(lines: Int, expectedLoaded: Int)

  private final case class Body(id: Int, core: Seq[String], lang: Option[String],
      retweet: Boolean, hasKey: Boolean, user: String, createdAt: String,
      source: String, location: Option[String], quote: Option[(String, String)])

  /** Writes `lines` NDJSON lines to `path` and returns the chunk's oracle.
    * `emptyAfterF1` makes every line a retweet or non-es, so the chunk
    * loads nothing (the S4 empty-batch guard). `mtimeMs` pins the file's
    * modification time, which orders the file source's batches. */
  def writeChunk(path: Path, seed: Long, chunk: Int, lines: Int,
      emptyAfterF1: Boolean, mtimeMs: Long): Chunk = {
    val rng = new Random(seed * 1000003L + chunk)
    val bodies = mutable.ArrayBuffer.empty[Body]
    val loaded = mutable.HashSet.empty[Int]
    val out = new java.lang.StringBuilder(lines * 420)
    val t0 = 1571800000L + chunk * 60L
    for (i <- 0 until lines) {
      val b =
        if (bodies.nonEmpty && rng.nextDouble() < 0.10) bodies(rng.nextInt(bodies.size))
        else {
          val nb = freshBody(rng, chunk, bodies.size, emptyAfterF1, t0 + i / 20)
          bodies += nb
          nb
        }
      val line = render(b, variant(rng, b.core))
      if (rng.nextDouble() < 0.003) out.append(line, 0, line.length / 2)
      else {
        out.append(line)
        if (b.lang.contains("es") && !b.retweet && b.hasKey) loaded += b.id
      }
      out.append('\n')
    }
    Files.write(path, out.toString.getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(path, FileTime.fromMillis(mtimeMs))
    Chunk(lines, loaded.size)
  }

  private def freshBody(rng: Random, chunk: Int, idx: Int, emptyAfterF1: Boolean,
      epochSec: Long): Body = {
    val n = 8 + rng.nextInt(14)
    val toks = Seq.fill(n)(
      if (rng.nextDouble() < 0.35) stopwords(rng.nextInt(stopwords.length))
      else words(rng.nextInt(words.length)))
    val hasKey = rng.nextDouble() < 0.9
    val tagged = if (hasKey) toks.patch(rng.nextInt(n), Seq(keyTags(rng.nextInt(keyTags.length))), 0) else toks
    val core = tagged :+ nonce(chunk, idx)
    val u = rng.nextDouble()
    val lang0 =
      if (u < 0.02) None
      else if (u < 0.72) Some("es")
      else if (u < 0.87) Some("en")
      else if (u < 0.95) Some("pt")
      else Some("fr")
    val retweet0 = rng.nextDouble() < 0.15
    // An empty-after-F1 chunk keeps the language mix but turns every es
    // original into a retweet.
    val retweet = retweet0 || (emptyAfterF1 && lang0.contains("es"))
    val createdAt =
      if (rng.nextDouble() < 0.005) "Xyz Abc 99 99:99:99 +0000 2019"
      else twitterTime.format(Instant.ofEpochSecond(epochSec))
    val quote =
      if (rng.nextDouble() < 0.30) Some(s"medio_${rng.nextInt(500)}" ->
        (Seq.fill(6)(words(rng.nextInt(words.length))).mkString(" ") +
          s" https://t.co/${alnum(rng, 10)}"))
      else None
    Body(idx, core, lang0, retweet, hasKey, s"usuario_${rng.nextInt(5000)}", createdAt,
      sources(rng.nextInt(sources.length)),
      if (rng.nextDouble() < 0.6) Some(places(rng.nextInt(places.length))) else None,
      quote)
  }

  /** Letters only, unique per (chunk, body), never a Spanish word. */
  private def nonce(chunk: Int, idx: Int): String = {
    var v = chunk.toLong * 1000000L + idx
    val sb = new StringBuilder("zq")
    for (_ <- 0 until 7) { sb.append(('a' + (v % 26)).toChar); v /= 26 }
    sb.toString
  }

  private def alnum(rng: Random, n: Int): String = {
    val cs = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    Seq.fill(n)(cs.charAt(rng.nextInt(cs.length))).mkString
  }

  /** The body's tokens with a random @mention, URL and spacing — the parts
    * T1-T5 remove, so every variant of a body cleans to the same content. */
  private def variant(rng: Random, core: Seq[String]): String = {
    val sb = new StringBuilder
    if (rng.nextDouble() < 0.4) sb.append("@cuenta_").append(rng.nextInt(10000)).append(' ')
    core.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append(if (rng.nextDouble() < 0.1) "  " else " ")
      sb.append(t)
    }
    if (rng.nextDouble() < 0.6) sb.append(" https://t.co/").append(alnum(rng, 10))
    if (rng.nextDouble() < 0.1) sb.append("  ")
    sb.toString
  }

  private def render(b: Body, text: String): String = {
    def s(o: Option[String]) = o.map(Json.quote).getOrElse("null")
    val sb = new StringBuilder(420)
    sb.append("{\"created_at\":").append(Json.quote(b.createdAt))
      .append(",\"id_str\":\"").append(1185000000000000000L + b.id * 7919L).append('"')
      .append(",\"screen_name\":").append(Json.quote(b.user))
      .append(",\"text\":").append(Json.quote(text))
      .append(",\"source\":").append(Json.quote(b.source))
      .append(",\"location\":").append(s(b.location))
      .append(",\"quoted_screen_name\":").append(s(b.quote.map(_._1)))
      .append(",\"quoted_text\":").append(s(b.quote.map(_._2)))
      .append(",\"is_retweet\":").append(b.retweet)
      .append(",\"lang\":").append(s(b.lang))
      .append(",\"favorite_count\":").append(b.id % 97)
      .append(",\"retweet_count\":").append(b.id % 31)
      .append(",\"followers_count\":").append(b.user.length * 131)
      .append('}')
    sb.toString
  }
}
