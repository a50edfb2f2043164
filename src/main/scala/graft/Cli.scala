package graft

import scala.io.StdIn

import graft.plan.TimeContext
import graft.sql.{Ast, CommandParser}

/**
 * Interactive shell over a warehouse (the reference's `nsdb-cli` surface):
 *
 *   sbt "runMain graft.Cli /path/to/warehouse [db]"
 *
 * Commands: `use <ns>`, `show namespaces|metrics|databases`,
 * `describe <metric>`, any dialect statement, `exit`.
 */
object Cli {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(sys.props("java.io.tmpdir") + "/graft_warehouse")
    val db   = args.lift(1).getOrElse("default")
    val spark = GraftSession.builder(4)
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val engine = new GraftEngine(spark, root)
    var ns     = "default"
    println(s"graft shell — warehouse: $root  db: $db  (type 'exit' to quit)")

    var running = true
    while (running) {
      print(s"$db.$ns> ")
      Console.flush()
      val line = Option(StdIn.readLine()).map(_.trim).getOrElse("exit")
      if (line.equalsIgnoreCase("exit") || line.equalsIgnoreCase("quit")) running = false
      else if (line.nonEmpty) {
        implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
        CommandParser.parse(line) match {
          case Right(Ast.UseNamespace(n)) =>
            ns = n; println(s"namespace set to $n")
          case Right(cmd) =>
            engine.command(db, ns, cmd).fold(err => println(s"error: $err"),
              rows => rows.foreach(r => println(r.mkString("\t"))))
          case Left(_) =>
            engine.sql(db, ns, line) match {
              case Right(df) => df.show(50, truncate = false)
              case Left(err) => println(s"error: $err")
            }
        }
      }
    }
    spark.stop()
  }
}
