package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** Catalogue queries through the public entry point: one op is
  * `SparkEntry.queries(name)(spark, dir)` (the build) followed by a write
  * (the execution).
  *
  * Set-up copies the input tables into a fresh directory; the artifact
  * caches in `Queries` key on the directory, so each copy starts cold. The
  * first pass in the fresh JVM is the cold pass. The second pass is still
  * markedly slower while the JIT settles, so it runs untimed ("settle") and
  * writes every result as parquet for the correctness check. The timed
  * passes write to the noop sink: the cold pass, then warm passes until both
  * `min_passes` and the time budget, counted from the cold pass, are spent.
  */
object QueryLoad {

  private def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach { f =>
      if (Files.isDirectory(f)) copyDir(f, to.resolve(f.getFileName))
      else Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def run(r: Main.Run): Unit = {
    val spark = r.spark
    val p = r.plan
    val names = p("queries").split(",").toSeq
    val input = Paths.get(p("data_dir"))

    def queryPass(n: Int, kind: String, dir: String, traced: Boolean): Unit =
      r.pass(n, kind, traced) {
        names.foreach { q =>
          r.op(q, n, kind) { built =>
            val df = Spans.span("queries", "build") { SparkEntry.queries(q)(spark, dir) }
            built()
            Spans.span("queries", "exec") {
              if (kind == "settle") df.write.mode("overwrite").parquet(r.work.resolve("out").resolve(q).toString)
              else df.write.format("noop").mode("overwrite").save()
            }
          }
        }
      }

    var dir = ""
    (1 to p("reps").toInt).foreach { rep =>
      val t0 = Clock.us()
      val d = r.work.resolve(s"rep$rep")
      copyDir(input, d)
      r.setupReps += (Clock.us() - t0) / 1e6
      dir = d.toString
    }

    val t0 = Clock.us()
    queryPass(1, "cold", dir, r.tracedPass(1))
    queryPass(2, "settle", dir, traced = false)
    var n = 2
    while (n < 2 + p("min_passes").toInt || (Clock.us() - t0) / 1e6 < r.seconds) {
      n += 1
      queryPass(n, "warm", dir, r.tracedPass(n))
    }

    val oracles = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.writeString(r.work.resolve("oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }.mkString("{", ",", "}"))
  }
}
