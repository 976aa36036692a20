package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.{Charset, StandardCharsets}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** Seeded generator of the reference's three raw input formats: a GTFS ZIP,
  * one semicolon day-first IstDaten CSV per day, and '-'-as-NA MeteoSwiss
  * CSVs for two stations. The same seed writes the same bytes.
  *
  * Unlike a uniform generator it gives the ingest code real work:
  *  - line and stop popularity are Zipf-skewed, so dedupe and window
  *    partitions are unequal in size;
  *  - exact-duplicate rows (IstDaten, GTFS stop_times, weather) must be
  *    removed by the ingests;
  *  - "shadow" rows repeat an event's business key with the lowest status
  *    (PROGNOSE), so the priority dedupe has to pick the original;
  *  - non-TPG operator rows must be filtered out;
  *  - day 1 is written in ISO-8859-1 and carries accented stop names, so the
  *    charset probe must route it to the Latin-1 reader.
  *
  * Every injected quantity and every gold row count it implies is recorded
  * in the returned [[Manifest]], which the output checks reconcile against.
  */
object RawGen {

  val accented: IndexedSeq[String] = IndexedSeq(
    "Genève-Cornavin", "Carouge-Marché", "Chêne-Bourg", "Thônex-Vallard",
    "Vernier-Église", "Genève-Plage")
  val nStops = 400
  val nLines = 40
  val stations: Seq[String] = Seq("GVE", "BER")
  val lineSkew = 1.1

  case class Manifest(counts: Seq[(String, Long)]) {
    def get(k: String): Long = counts.find(_._1 == k).map(_._2).get
    def json: String = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def stopName(i: Int): String =
    if (i < accented.size) accented(i) else s"Stop $i"
  private def bpuic(i: Int): Int = 8587000 + i

  private def writer(path: String, cs: Charset) =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), cs), 1 << 16)

  def generate(dir: String, seed: Long, days: Int, rowsPerDay: Int, trips: Int): Manifest = {
    new File(dir).mkdirs()
    val rnd = new SplittableRandom(seed)
    val lineZipf = new Zipf(nLines, lineSkew)
    val stopZipf = new Zipf(nStops, 1.0)
    val counts = mutable.LinkedHashMap.empty[String, Long]
    def add(k: String, n: Long): Unit = counts(k) = counts.getOrElse(k, 0L) + n

    // ---------------------------------------------------------------- GTFS
    val gtfs = s"$dir/gtfs.zip"
    locally {
      val zos = new ZipOutputStream(new FileOutputStream(gtfs))
      def member(name: String, body: String): Unit = {
        zos.putNextEntry(new ZipEntry(name))
        zos.write(body.getBytes(StandardCharsets.UTF_8)); zos.closeEntry()
      }
      val nTrips = trips; val nOtherTrips = trips / 10
      member("feed_info.txt", s"feed_version\nbench-$seed\n")
      member("agency.txt",
        "agency_id,agency_name\n881,Transports Publics Genevois\n11,Other Operator\n")
      member("routes.txt", "route_id,route_type,route_short_name,agency_id\n" +
        (1 to nLines).map(l => s"R$l,3,$l,881\n").mkString +
        (1 to 5).map(l => s"X$l,2,X$l,11\n").mkString)
      val tripsTxt = new StringBuilder("trip_id,route_id,service_id,direction_id\n")
      val stopTimes = new StringBuilder(
        "trip_id,stop_sequence,stop_id,arrival_time,departure_time\n")
      val tpgStops = mutable.BitSet.empty
      var stopTimeDups = 0L
      for (t <- 1 to nTrips + nOtherTrips) {
        val tpg = t <= nTrips
        val route = if (tpg) s"R${lineZipf.draw(rnd) + 1}" else s"X${rnd.nextInt(5) + 1}"
        tripsTxt.append(s"T$t,$route,S1,${t % 2}\n")
        var h = 5 + rnd.nextInt(19); var m = rnd.nextInt(60)
        for (sq <- 1 to 12) {
          // non-TPG trips also serve stops that no TPG trip reaches
          val stop = if (tpg) stopZipf.draw(rnd) else nStops + rnd.nextInt(50)
          if (tpg) tpgStops += stop
          // GTFS allows hours past 24 on overnight trips
          val row = f"T$t,$sq,ST$stop,$h%02d:$m%02d:00,$h%02d:$m%02d:30\n"
          stopTimes.append(row)
          if (tpg && rnd.nextInt(100) == 0) { stopTimes.append(row); stopTimeDups += 1 }
          m += 2 + rnd.nextInt(3); if (m >= 60) { m -= 60; h += 1 }
        }
      }
      member("trips.txt", tripsTxt.toString)
      member("stop_times.txt", stopTimes.toString)
      member("stops.txt", "stop_id,stop_name,stop_lat,stop_lon\n" +
        (0 until nStops + 50).map(i =>
          f"ST$i,${stopName(i)},46.${2000 + i}%d,6.${1000 + i}%d\n").mkString)
      zos.close()
      add("gtfs_routes", nLines); add("gtfs_trips", nTrips)
      add("gtfs_stop_times", nTrips * 12L); add("gtfs_stops", tpgStops.size)
      add("gtfs_stop_time_dups", stopTimeDups)
    }

    // ------------------------------------------------------------ IstDaten
    val istHeader = "BETRIEBSTAG;FAHRT_BEZEICHNER;BETREIBER_ABK;PRODUKT_ID;" +
      "LINIEN_TEXT;HALTESTELLEN_NAME;BPUIC;ANKUNFTSZEIT;AN_PROGNOSE;" +
      "AN_PROGNOSE_STATUS;ABFAHRTSZEIT;AB_PROGNOSE;AB_PROGNOSE_STATUS;" +
      "DURCHFAHRT_TF;ZUSATZFAHRT_TF;FAELLT_AUS_TF\n"
    new File(s"$dir/istdaten").mkdirs()
    val bins = mutable.HashSet.empty[Long] // distinct (line, stop, 10-min bin)
    val statuses = Array("REAL", "REAL", "REAL", "GESCHAETZT")
    for (d <- 1 to days) {
      val latin1 = d == 1
      val w = writer(f"$dir/istdaten/2024-06-$d%02d_istdaten.csv",
        if (latin1) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8)
      w.write(istHeader)
      val dmy = f"$d%02d.06.2024"
      def ts(h: Int, m: Int, s: Int) = f"$dmy $h%02d:$m%02d:$s%02d"
      for (i <- 1 to rowsPerDay) {
        val line = lineZipf.draw(rnd) + 1
        val stop = stopZipf.draw(rnd)
        // scheduled 05:00-22:59; with the delay and a shadow row's two extra
        // minutes every estimate stays on the same day
        val h = 5 + rnd.nextInt(18); val m = rnd.nextInt(60)
        val delay = rnd.nextInt(600) - 60
        val est = h * 3600 + m * 60 + delay
        val estTs = ts(est / 3600, est / 60 % 60, est % 60)
        val prod = if (rnd.nextInt(5) == 0) "Tram" else "Bus"
        val status = statuses(rnd.nextInt(statuses.length))
        val tpg = rnd.nextInt(20) != 0
        val op = if (tpg) "TPG" else "SBB"
        val row = s"$dmy;85:881:$i-$d;$op;$prod;$line;${stopName(stop)};${bpuic(stop)};" +
          s"${ts(h, m, 0)};$estTs;$status;${ts(h, m, 0)};$estTs;$status;0;0;0\n"
        w.write(row)
        if (tpg) {
          add("ist_events", 1)
          if (stop < accented.size) add("ist_accented", 1)
          if (latin1) add("ist_latin1_rows", 1)
          bins += ((line.toLong * nStops + stop) * 24 * 6 * 40) + d * 24 * 6 + h * 6 + m / 10
          if (rnd.nextInt(50) == 0) { w.write(row); add("ist_exact_dups", 1) }
          if (rnd.nextInt(25) == 0) {
            // same business key, lowest status, a later estimate: the
            // priority dedupe must keep the original row
            val shadowEst = est + 120
            w.write(s"$dmy;85:881:$i-$d;$op;$prod;$line;${stopName(stop)};${bpuic(stop)};" +
              s"${ts(h, m, 0)};${ts(shadowEst / 3600, shadowEst / 60 % 60, shadowEst % 60)};" +
              s"PROGNOSE;${ts(h, m, 0)};;PROGNOSE;0;0;0\n")
            add("ist_shadow_rows", 1)
          }
        } else add("ist_non_tpg", 1)
      }
      w.close()
    }
    add("by_stop_line", bins.size)
    add("ist_latin1_files", 1)

    // ------------------------------------------------------------- weather
    new File(s"$dir/weather").mkdirs()
    for (st <- stations) {
      val w = writer(s"$dir/weather/ogd-smn_${st.toLowerCase}_t_recent.csv",
        StandardCharsets.UTF_8)
      w.write("station_abbr;reference_timestamp;tre200s0;rre150z0;fu3010z0;fu3010z1;" +
        "dkl010z0;ure200s0;prestas0;gre000z0;sre000z0;tde200s0\n")
      for (d <- 1 to days; h <- 0 until 24; m <- 0 until 60 by 10) {
        val rain = if (rnd.nextInt(10) == 0) "-" else (rnd.nextInt(40) / 10.0).toString
        val row = f"$st;$d%02d.06.2024 $h%02d:$m%02d;${10 + rnd.nextInt(200) / 10.0}%.1f;" +
          f"$rain;${rnd.nextInt(400) / 10.0}%.1f;${rnd.nextInt(500) / 10.0}%.1f;" +
          f"${rnd.nextInt(360)};${40 + rnd.nextInt(60)};${980 + rnd.nextInt(50)};" +
          f"${rnd.nextInt(800)};${rnd.nextInt(10)};${5 + rnd.nextInt(150) / 10.0}%.1f\n"
        w.write(row)
        add("weather_obs", 1)
        if (rnd.nextInt(100) == 0) { w.write(row); add("weather_exact_dups", 1) }
      }
      w.close()
    }
    add("raw_bytes", rawBytes(dir))
    Manifest(counts.toSeq)
  }

  def rawBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length()
    Seq("gtfs.zip", "istdaten", "weather").map(p => walk(new File(dir, p))).sum
  }
}
