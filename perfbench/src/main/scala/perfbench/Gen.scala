package perfbench

import java.util.SplittableRandom

/** One generated log entry, in Loki's own units (ns timestamp). */
final case class LogEntry(tsNs: Long, labels: Map[String, String], line: String)

/** Seeded input generators. Every input the program sees comes from here,
  * and the same seed always yields the same inputs.
  */
object Gen {
  val NsPerS: Long = 1000000000L
  /** 2025-01-01T00:00:00Z: the seeded corpus covers the day after it. */
  val T0S: Long = 1735689600L
  val T0Ns: Long = T0S * NsPerS
  val DayS: Long = 86400L

  val Apps: Vector[String] = Vector(
    "api", "web", "auth", "cart", "checkout", "search", "payments",
    "inventory", "shipping", "notify", "billing", "profile", "reco", "media",
    "gateway", "orders", "reviews", "ads", "metrics", "admin")
  val Envs: Vector[String] = Vector("prod", "staging", "dev")

  /** Zipf(s) over 0 until n, by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    /** The value at quantile u in [0, 1). */
    def at(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
  val AppZipf = new Zipf(Apps.size, 1.1)

  /** Stream label sets. Apps get Zipf-skewed stream counts (every app at
    * least one; fixed, so an app's volume does not depend on the seed),
    * and rows spread evenly over streams, so rows are Zipf-skewed over
    * apps. The seed orders the streams and draws their `env`.
    */
  def streams(seed: Long, n: Int): Vector[Map[String, String]] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    val extra = n - Apps.size
    val w = Apps.indices.map(i => extra / math.pow(i + 1.0, 1.1))
    val scale = extra / w.sum
    val counts = w.map(x => 1 + math.floor(x * scale).toInt).toArray
    // largest remainders take the streams flooring left over
    Apps.indices.sortBy(i => -(w(i) * scale - math.floor(w(i) * scale)))
      .take(n - counts.sum).foreach(i => counts(i) += 1)
    val apps = shuffled(r, Apps.indices.flatMap(i => Vector.fill(counts(i))(Apps(i))).toVector)
    apps.zipWithIndex.map { case (app, i) =>
      Map("app" -> app, "env" -> Envs(r.nextInt(Envs.size)), "pod" -> f"$app-$i%03d")
    }
  }

  /** A corpus of `rows` entries over `spanS` seconds from T0, built in
    * `chunks` independently seeded time slices so any slice can be
    * regenerated on its own (the reference relation is built that way).
    */
  final case class Corpus(seed: Long, rows: Int, spanS: Long, nStreams: Int, chunks: Int) {
    lazy val streamSet: Vector[Map[String, String]] = streams(seed, nStreams)

    def chunkRows(c: Int): Int = rows / chunks + (if (c < rows % chunks) 1 else 0)

    /** Chunk c, sorted by timestamp. About 0.3% of rows start a burst of
      * 2-16 rows of one stream sharing one nanosecond.
      */
    def chunk(c: Int): Array[LogEntry] = {
      val r = new SplittableRandom(seed * 1000003L + c)
      val n = chunkRows(c)
      val sliceNs = spanS * NsPerS / chunks
      val start = T0Ns + c * sliceNs
      val ts = Array.fill(n)(start + r.nextLong(sliceNs))
      java.util.Arrays.sort(ts)
      val out = new Array[LogEntry](n)
      var i = 0
      while (i < n) {
        val labels = streamSet(r.nextInt(streamSet.size))
        val burst = if (r.nextDouble() < 0.003) 2 + r.nextInt(15) else 1
        var j = 0
        while (j < burst && i + j < n) {
          out(i + j) = LogEntry(ts(i), labels, Lines.line(r, ts(i)))
          j += 1
        }
        i += burst
      }
      out
    }

    def all: Array[LogEntry] = (0 until chunks).iterator.flatMap(chunk).toArray
  }

  /** Seeded permutation of a block. */
  def shuffled[A](r: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** A low-discrepancy sequence in [0, 1): the Weyl sequence
    * frac(offset + n·(√5−1)/2). Any run of consecutive draws covers
    * [0, 1) evenly, so a short run sees the same spread of draws.
    */
  final class Weyl(offset: Double) {
    private var x = offset
    def next(): Double = { x = (x + 0.6180339887498949) % 1.0; x }
  }

  /** `TIMESTAMP '…'` literal for an epoch second (session time zone UTC). */
  def tsLit(epochS: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(epochS, 0, java.time.ZoneOffset.UTC)
    "TIMESTAMP '" + t.toString.replace('T', ' ') + (if (t.getSecond == 0) ":00" else "") + "'"
  }
}

/** Log lines shaped like what common loggers emit: nginx combined access
  * lines (plain text), logrus/go-kit logfmt, and zap-style JSON.
  */
object Lines {
  val Methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  val Paths = Vector("/api/orders", "/api/cart", "/api/users", "/api/search",
    "/api/login", "/api/payments", "/static/app.js", "/health")
  val Msgs = Vector("request completed", "request completed", "cache miss",
    "upstream timeout", "user login", "retrying request", "slow query")
  val Callers = Vector("http/server.go:214", "cache/lru.go:88",
    "db/pool.go:131", "auth/session.go:57")
  val Agents = Vector("curl/8.5.0", "Mozilla/5.0 (X11; Linux x86_64)",
    "okhttp/4.12.0", "python-requests/2.31")

  /** 80% 200, 5% 302, 8% 404, 5% 500, 2% 503. */
  def status(r: SplittableRandom): Int = {
    val u = r.nextInt(100)
    if (u < 80) 200 else if (u < 85) 302 else if (u < 93) 404 else if (u < 98) 500 else 503
  }
  def level(status: Int, r: SplittableRandom): String =
    if (status >= 500) "error" else if (status >= 400) "warn"
    else if (r.nextInt(20) == 0) "debug" else "info"

  private val MonthNames = Vector("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private def two(n: Long): String = if (n < 10) "0" + n else n.toString

  /** 50% plain access lines, 25% logfmt, 25% JSON. */
  def line(r: SplittableRandom, tsNs: Long): String = {
    val epochS = Math.floorDiv(tsNs, Gen.NsPerS)
    val date = java.time.LocalDate.ofEpochDay(Math.floorDiv(epochS, Gen.DayS))
    val sod = Math.floorMod(epochS, Gen.DayS)
    val hms = two(sod / 3600) + ":" + two(sod / 60 % 60) + ":" + two(sod % 60)
    val micros = f"${Math.floorMod(tsNs, Gen.NsPerS) / 1000}%06d"
    val method = Methods(r.nextInt(Methods.size))
    val path = Paths(r.nextInt(Paths.size)) +
      (if (r.nextBoolean()) "/" + r.nextInt(100000) else "")
    val st = status(r)
    val user = "u" + r.nextInt(5000)
    r.nextInt(4) match {
      case 0 | 1 =>
        val ip = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
        val clf = s"${two(date.getDayOfMonth)}/${MonthNames(date.getMonthValue - 1)}/${date.getYear}:$hms +0000"
        s"""$ip - $user [$clf] "$method $path HTTP/1.1" $st ${r.nextInt(20000)} "-" "${Agents(r.nextInt(Agents.size))}""""
      case 2 =>
        val msg = Msgs(r.nextInt(Msgs.size))
        s"""time="${date}T$hms.${micros}Z" level=${level(st, r)} msg="$msg" method=$method path=$path status=$st duration=${r.nextInt(2000)}ms user=$user trace_id=${java.lang.Long.toHexString(r.nextLong())}"""
      case _ =>
        val msg = Msgs(r.nextInt(Msgs.size))
        s"""{"level":"${level(st, r)}","ts":"${date}T$hms.${micros}Z","caller":"${Callers(r.nextInt(Callers.size))}","msg":"$msg","method":"$method","path":"$path","status":$st,"duration_ms":${r.nextInt(2000)},"user":"$user"}"""
    }
  }
}

/** One read of the `logs_read` mix (or an `logs_ingest` read-back). */
final case class Read(cls: String, sqlFor: (String, Boolean) => String,
    startS: Long, endS: Long, limit: Option[Int]) {
  /** The SQL over `table`; `limited = false` drops the LIMIT (the
    * reference side of a LIMIT check needs every qualifying row).
    */
  def sql(table: String, limited: Boolean = true): String = sqlFor(table, limited)
}

object ReadMix {
  /** Per 20 reads: 12 point, 3 metric, 2 parser, 2 scan, 1 residual. */
  val Block: Vector[String] = Vector.fill(12)("point") ++ Vector.fill(3)("metric") ++
    Vector.fill(2)("parser") ++ Vector.fill(2)("scan") ++ Vector("residual")
  val WidthS: Map[String, Long] = Map("point" -> 900L, "metric" -> 21600L,
    "parser" -> 3600L, "scan" -> 7200L, "residual" -> 3600L)

  private def window(s: Long, e: Long): String =
    s"timestamp >= ${Gen.tsLit(s)} AND timestamp < ${Gen.tsLit(e)}"

  /** One read of class `cls`: the app is the Zipf quantile `appU`, the
    * window starts at fraction `startU` of the free range.
    */
  def read(r: SplittableRandom, cls: String, spanS: Long, appU: Double, startU: Double): Read = {
    val app = Gen.Apps(Gen.AppZipf.at(appU))
    val w = WidthS(cls)
    val s = Gen.T0S + (startU * (spanS - w + 1)).toLong
    val e = s + w
    val sel = s"labels['app'] = '$app' AND ${window(s, e)}"
    val rows = "SELECT timestamp, labels, line FROM"
    cls match {
      case "point" =>
        val p = Lines.Paths(r.nextInt(Lines.Paths.size))
        Read(cls, (t, lim) => s"$rows $t WHERE $sel AND line LIKE '%$p%'" +
          (if (lim) " LIMIT 100" else ""), s, e, Some(100))
      case "metric" =>
        Read(cls, (t, _) => s"SELECT labels['pod'] AS pod, count(*) AS n FROM $t " +
          s"WHERE $sel GROUP BY labels['pod']", s, e, None)
      case "parser" =>
        val pred =
          if (r.nextBoolean()) s"logfmt_get(line, 'status') = '${Lines.status(r)}'"
          else s"loki_json_get(line, 'level') = '${Vector("error", "warn", "info")(r.nextInt(3))}'"
        Read(cls, (t, _) => s"$rows $t WHERE $sel AND $pred", s, e, None)
      case "scan" =>
        Read(cls, (t, _) => s"$rows $t WHERE $sel", s, e, None)
      case "residual" =>
        Read(cls, (t, _) => s"$rows $t WHERE $sel AND length(line) > 200", s, e, None)
    }
  }

  /** Endless seeded read sequence. Each block of 20 holds the exact mix
    * in a seeded order. Per class, the apps follow one fixed Weyl sequence
    * of Zipf quantiles, so every run reads the same apps in the same
    * proportions, and the window starts follow a seeded Weyl sequence.
    */
  def iterator(seed: Long, spanS: Long): Iterator[Read] = {
    val r = new SplittableRandom(seed * 104729L + 3L)
    val seqs = Block.distinct.map(c => c -> ((new Gen.Weyl(0.0), new Gen.Weyl(r.nextDouble())))).toMap
    Iterator.continually(Gen.shuffled(r, Block)).flatten.map { c =>
      val (app, start) = seqs(c)
      read(r, c, spanS, app.next(), start.next())
    }
  }

  /** The read-back of one ingested batch: its exact row count. */
  def countBatch(batch: Int, startS: Long, endS: Long): Read =
    Read("count", (t, _) => s"SELECT count(*) AS n FROM $t WHERE labels['batch'] = 'b$batch' " +
      s"AND ${window(startS, endS)}", startS, endS, None)
}

object IngestMix {
  sealed trait Op
  final case class Write(batch: Int, size: Int) extends Op
  /** Reads back an earlier batch, picked by `pick` in [0, 1). */
  final case class ReadBack(pick: Double) extends Op

  val Small = 1000
  val Large = 20000
  /** Per 10 writes: seven of 1,000 rows and three of 20,000. */
  val SizeBlock: Vector[Int] = Vector.fill(7)(Small) ++ Vector.fill(3)(Large)
  /** Seconds of event time each batch covers (batches never overlap). */
  val BatchSpanS = 60L
  /** Ingested batches land after the seeded day. */
  val BatchBaseS: Long = Gen.T0S + Gen.DayS

  /** Endless seeded op sequence: each block of four is three writes and
    * one read-back, the read never first in the very first block.
    */
  def iterator(seed: Long): Iterator[Op] = {
    val r = new SplittableRandom(seed * 15485863L + 5L)
    val sizes = Iterator.continually(Gen.shuffled(r, SizeBlock)).flatten
    val picks = new Gen.Weyl(r.nextDouble())
    var batch = 0
    var first = true
    Iterator.continually {
      val readAt = if (first) 3 else r.nextInt(4)
      first = false
      (0 until 4).map { i =>
        if (i == readAt) ReadBack(picks.next())
        else { batch += 1; Write(batch, sizes.next()): Op }
      }
    }.flatten
  }

  def batchStartS(batch: Int): Long = BatchBaseS + batch * BatchSpanS

  /** A batch's rows: four of the corpus's streams plus its own
    * `batch=b<id>` label, evenly spaced over the batch's minute, so no two
    * entries are identical and Loki's ingest dedup keeps every row.
    */
  def batchRows(seed: Long, batch: Int, size: Int,
      streams: Vector[Map[String, String]]): Array[LogEntry] = {
    val r = new SplittableRandom(seed * 31L + batch)
    val sets = Vector.fill(4)(streams(r.nextInt(streams.size)) + ("batch" -> s"b$batch"))
    val base = batchStartS(batch) * Gen.NsPerS
    val step = BatchSpanS * Gen.NsPerS / size
    Array.tabulate(size) { i =>
      val ts = base + i * step
      LogEntry(ts, sets(i % sets.size), Lines.line(r, ts))
    }
  }
}
