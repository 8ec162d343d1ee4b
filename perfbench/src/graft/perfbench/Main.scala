package graft.perfbench

/** JVM side of the benchmark in this directory (see README.md). `run.py`
  * decides every generated input from the seed and passes it in; this side
  * times calls into the program's public functions, reads Spark's own
  * listener events, and writes the raw samples to `--out` as JSON. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv)
    val raw = a("kind") match {
      case "query" => QueryRun.run(a)
      case "ingest" => IngestRun.run(a)
      case k => throw new IllegalArgumentException(s"unknown --kind $k")
    }
    Json.write(a("out"), raw)
  }
}
