package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One benchmark run in one JVM; `run.py` is the front end that builds,
  * generates inputs, launches this and reports the metrics.
  *
  * Usage: perfbench.Main key=value ... with keys workload, seed, seconds,
  * trace (0|1), cores, work (scratch dir), out (raw result file) and,
  * per workload, data + queries (catalog_sf01) or leaf_rows (flight_hourly).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val r = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cores").toInt, a("work"))
    val status =
      try {
        r.workload match {
          case "catalog_sf01" => Catalog.run(r, a("data"), a("queries").split(",").toSeq)
          case "flight_hourly" => Flights.hourly(r, a("leaf_rows").toInt)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally r.stopSession()
    Files.write(Paths.get(a("out")), r.json.getBytes(StandardCharsets.UTF_8))
    sys.exit(status)
  }
}
