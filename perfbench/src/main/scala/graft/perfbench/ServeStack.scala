package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.Graft
import graft.engine.TopicStore
import graft.serving.{BinaryProducerServer, ProduceChannel, RestServer}

/** The serving workloads' system under test, in a JVM of its own: the
  * `graft.tools.Serve` stack (default 3-broker x 4-range ring, REST server
  * with `coalesceMs = 20` and the default group cap, binary producer
  * server over the same coalescer) on a store under `--root`.
  *
  * With `--trace 1` the store is a [[TracingStore]] and both fronts submit
  * through a [[TracingChannel]]; the spans go to `--spans` at exit.
  *
  * Prints `READY <rest port> <binary port>`, serves until stdin closes or
  * reads `STOP`, then writes JVM figures to `--out` and exits.
  */
object ServeStack {
  def main(args: Array[String]): Unit = {
    val f = new Flags(args)
    val spark = Graft.session("perfbench-serve")
    val tracer = if (f.traced) Some(new Tracer) else None
    val store = tracer.fold(new TopicStore(spark, f("root")))(t => new TracingStore(spark, f("root"), t))
    val server = new RestServer(store, coalesceMs = 20L).start()
    val channel: ProduceChannel = tracer.fold[ProduceChannel](server.coalescer) { t =>
      val c = new TracingChannel(server.coalescer, t)
      server.routeProduceVia(c)
      c
    }
    val bin = new BinaryProducerServer(channel).start()
    server.advertiseProducerBinaryPort(bin.boundPort)
    println(s"READY ${server.boundPort} ${bin.boundPort}"); Console.out.flush()

    var line = scala.io.StdIn.readLine()
    while (line != null && line.trim != "STOP") line = scala.io.StdIn.readLine()
    bin.stop()
    server.stop()
    tracer.foreach(_.write(f("spans")))
    Files.write(Path.of(f("out")), ("{" + JvmStats.json + "}").getBytes(UTF_8))
    JvmStats.exit()
  }
}
