package perfbench

import java.io.File

/** Entry point of the benchmark JVM (started by run.py):
  * `--workload <serve|curate> --seed <n> --seconds <n> --trace <0|1>
  *  --work <dir> --out <file>`. Writes one result object to `--out`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(arg("workload"), arg("seed").toLong, arg("seconds").toInt, arg("trace") == "1",
      new File(arg("work")), new File(arg("out")))
    a.work.mkdirs()
    val result = a.workload match {
      case "serve" => ServeBench.run(a)
      case "curate" => CurateBench.run(a)
      case w => sys.error(s"unknown workload '$w'")
    }
    if (a.trace) Json.writeResult(a.out, result, Catalog.PerLayer, required = false)
    else Json.writeResult(a.out, result, Catalog.EndToEnd, required = true)
  }
}
