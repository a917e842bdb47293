package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.operators.{Audit, Dedup, Merge, SchemaDrift, Sinks}
import graft.pipeline.Pipeline
import graft.sources.Paginated

/** Page bodies written by the generator, one file per (day, endpoint), one
  * page per line as `<rows>\t<body>`. Loaded on first fetch and kept in
  * this JVM; local mode runs every task in the driver JVM, so the fetcher
  * itself only carries the day number.
  */
object FeedStore {
  @volatile var root: String = _
  private val pages = new ConcurrentHashMap[(Int, String), Array[(Int, String)]]()
  val fetchUs = new ConcurrentHashMap[Int, AtomicLong]()
  val served = new ConcurrentHashMap[Int, AtomicLong]() // pages served per day
  val rows = new ConcurrentHashMap[Int, AtomicLong]()   // rows served per day

  private def count(m: ConcurrentHashMap[Int, AtomicLong], day: Int, n: Long): Unit =
    m.computeIfAbsent(day, _ => new AtomicLong()).addAndGet(n)

  def fetch(day: Int, endpoint: String, page: Int): Paginated.FetchResult = {
    val t0 = Clock.us()
    val ps = pages.computeIfAbsent((day, endpoint), { case (d, e) =>
      Files.readAllLines(Paths.get(root, s"d$d", s"$e.txt")).asScala.map { l =>
        val tab = l.indexOf('\t')
        (l.take(tab).toInt, l.drop(tab + 1))
      }.toArray
    })
    val r =
      if (page >= 1 && page <= ps.length) {
        count(served, day, 1)
        count(rows, day, ps(page - 1)._1)
        Paginated.FetchResult(200, ps(page - 1)._2)
      } else Paginated.FetchResult(400, """{"success": false, "status_code": 22}""")
    count(fetchUs, day, Clock.us() - t0)
    r
  }

  def stat(m: ConcurrentHashMap[Int, AtomicLong], day: Int): Long =
    Option(m.get(day)).map(_.get).getOrElse(0L)
}

final class FeedFetcher(day: Int) extends Paginated.PageFetcher {
  override def fetch(endpoint: String, page: Int): Paginated.FetchResult =
    FeedStore.fetch(day, endpoint, page)
}

/** The reference daily job: per endpoint, ingest -> dedup -> stamp ->
  * align -> merge -> versioned swap, fanned out over the endpoints.
  * Set-up seeds every destination table; each timed pass is one day.
  */
object Etl {

  def run(r: Main.Run): Unit = {
    val spark = r.spark
    val p = r.plan
    val endpoints = p("endpoints").split(",").toSeq
    val maxDays = p("days").toInt
    val minDays = p("min_days").toInt
    val addColDay = p("add_col_day").toInt
    val typeChangeDay = p("type_change_day").toInt
    val base = java.time.LocalDate.parse(p("base_date"))
    def stamp(day: Int) = lit(s"${base.plusDays(day.toLong)} 00:00:00")
    FeedStore.root = p("pages_dir")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    def schemaFor(day: Int): StructType = {
      val typed = StructType(Paginated.movieSchema.fields.map {
        case f if f.name == "vote_count" && day == typeChangeDay => f.copy(dataType = DoubleType)
        case f => f
      })
      if (day >= addColDay) typed.add(StructField("revenue", LongType)) else typed
    }

    def newestVersion(root: String): Path =
      fs.listStatus(new Path(root)).map(_.getPath).filter(_.getName.matches("v\\d{8}"))
        .maxBy(_.getName)

    /** (files, bytes) of the data files in a table's newest version. */
    def written(root: String): (Int, Long) = {
      val files = fs.listStatus(newestVersion(root)).filter(_.getPath.getName.startsWith("part-"))
      (files.length, files.map(_.getLen).sum)
    }

    // Set-up: seed the destinations, repeated so set-up time is a median.
    var roots = Map.empty[String, String]
    (1 to p("reps").toInt).foreach { rep =>
      val t0 = Clock.us()
      val rs = endpoints.map(e => e -> s"${p("dest_dir")}/rep$rep/$e").toMap
      Pipeline.fanOut(endpoints, maxConcurrent = endpoints.size) { e =>
        val seed = spark.read.parquet(s"${p("seed_dir")}/$e.parquet")
          .select(Paginated.movieSchema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
        Sinks.swapIntoVersioned(spark, rs(e), Audit.stampAt(seed, stamp(0)))
      }
      r.setupReps += (Clock.us() - t0) / 1e6
      roots.values.foreach(d => fs.delete(new Path(d), true))
      roots = rs
    }
    // Bytes of the seeded tables, the measure of bytes per row for write_amp.
    r.extra += "seed_bytes" -> endpoints.map(e => written(roots(e))._2).sum.toString

    def loadDay(endpoint: String, day: Int): Unit = r.op(endpoint, day, "day") { _ =>
      val batch = Spans.span("sources", "ingest") {
        Paginated.ingest(spark, new FeedFetcher(day), endpoint, schemaFor(day), fetchPartitions = 4)
          .drop("page")
      }
      val clean = Spans.span("operators", "dedup") { Dedup.fullRow(batch) }
      val stamped = Spans.span("operators", "stamp") { Audit.stampAt(clean, stamp(day)) }
      val dest = Spans.span("sinks", "read") { Sinks.readCurrent(spark, roots(endpoint)) }
      val (d, s) = Spans.span("operators", "align") { SchemaDrift.align(dest, stamped) }
      val merged = Spans.span("operators", "merge") { Merge.merge(d, s, Seq("id")) }
      Spans.span("sinks", "write") { Sinks.swapIntoVersioned(spark, roots(endpoint), merged) }
    }

    val dayStats = new StringBuilder
    val t0 = Clock.us()
    var day = 0
    while (day < maxDays && (day < minDays || (Clock.us() - t0) / 1e6 < r.seconds)) {
      day += 1
      r.pass(day, "day", r.tracedPass(day - 1)) { // day 1 is the cold pass
        Pipeline.fanOut(endpoints, maxConcurrent = endpoints.size)(e => loadDay(e, day))
      }
      val w = endpoints.map(e => written(roots(e)))
      if (dayStats.nonEmpty) dayStats.append(',')
      dayStats.append(s"""{"day":$day,"pages":${FeedStore.stat(FeedStore.served, day)},""" +
        s""""rows":${FeedStore.stat(FeedStore.rows, day)},"fetch_us":${FeedStore.stat(FeedStore.fetchUs, day)},""" +
        s""""files_written":${w.map(_._1).sum},"bytes_written":${w.map(_._2).sum}}""")
    }
    r.extra += "days" -> s"[$dayStats]"

    // Untimed probe that writes nothing: a type change persisting into a
    // second day. It shows a known SchemaDrift defect without stopping the
    // workload (the feed's type change lasts one day).
    val probe = scala.util.Try {
      val dest = Sinks.readCurrent(spark, roots(endpoints.head))
      val again = dest.select(Paginated.movieSchema.fieldNames.toIndexedSeq.map(col): _*)
        .withColumn("vote_count", col("vote_count").cast(DoubleType)).limit(1)
      val (d, s) = SchemaDrift.align(dest, Audit.stampAt(again, stamp(day + 1)))
      Merge.merge(d, s, Seq("id")).queryExecution.assertAnalyzed()
    }
    r.extra += "repeat_type_change" ->
      Json.quote(probe.fold(e => e.toString.linesIterator.next(), _ => "ok"))
  }
}
