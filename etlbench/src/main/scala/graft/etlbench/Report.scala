package graft.etlbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import scala.jdk.CollectionConverters._

/** Committed per-unit output expectations: workload -> input variant ->
  * unit -> {rows, hash}.
  */
object Expectations {
  private val mapper = new ObjectMapper()

  def load(path: String, workload: String, variant: String): Map[String, Digest] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val node = mapper.readTree(f).path(workload).path(variant)
      node.fieldNames().asScala.map { unit =>
        val u = node.get(unit)
        unit -> Digest(u.get("rows").asLong, u.get("hash").asText)
      }.toMap
    }
  }

  /** Write one variant's digests as a standalone document (merged into the
    * committed file by the launcher).
    */
  def save(path: String, workload: String, variant: String, digests: Seq[(String, Digest)]): Unit = {
    val root = JsonNodeFactory.instance.objectNode()
    val v = root.putObject(workload).putObject(variant)
    digests.sortBy(_._1).foreach { case (unit, d) =>
      v.putObject(unit).put("rows", d.rows).put("hash", d.hash)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), root)
  }
}

object Json {
  private val mapper = new ObjectMapper()

  /** The result line: exactly correct, attempted, failed and metrics. */
  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, String, Double)]): String = {
    val root = JsonNodeFactory.instance.objectNode()
    root.put("correct", correct).put("attempted", attempted).put("failed", failed)
    val m = root.putObject("metrics")
    metrics.foreach { case (name, unit, v) =>
      m.putObject(name).put("value", v).put("unit", unit)
    }
    mapper.writeValueAsString(root)
  }
}

/** Per-layer detail of a run: every pass's figures, per-unit walls and
  * unattributed shares, the span list with self times, and the host facts.
  */
object Sidecar {
  private val mapper = new ObjectMapper()

  def write(a: Main.Args, setupS: Double, passes: Seq[Main.PassResult],
            metrics: Seq[(String, String, Double)], failures: Seq[String],
            attempted: Long, failed: Long): Unit = {
    val root = JsonNodeFactory.instance.objectNode()
    root.put("workload", a.workload).put("seed", a.seed).put("variant", a.variant)
      .put("trace", a.trace).put("attempted", attempted).put("failed", failed)
    val host = root.putObject("host")
    host.put("nproc", Runtime.getRuntime.availableProcessors)
      .put("cores_used", a.cores)
      .put("max_heap_mb", Runtime.getRuntime.maxMemory / 1e6)
      .put("spark", org.apache.spark.SPARK_VERSION)
      .put("java", System.getProperty("java.version"))
    root.put("setup_s", setupS)
    val ms = root.putObject("metrics")
    metrics.foreach { case (n, u, v) => ms.putObject(n).put("value", v).put("unit", u) }
    val fs = root.putArray("failures")
    failures.foreach(fs.add)
    val ps = root.putArray("passes")
    passes.foreach { p =>
      val o = ps.addObject()
      o.put("traced", p.traced)
      put(o.putObject("end_to_end"), p.e2e)
      put(o.putObject("layers"), p.layers)
      val us = o.putObject("unit_wall_s")
      p.units.foreach(u => us.put(u.unit, u.seconds))
    }
    val spans = Trace.since(0)
    if (spans.nonEmpty) {
      val t0 = spans.map(_.t0).min
      val childNs = spans.filter(_.parent != 0).groupBy(_.parent)
        .map { case (id, cs) => id -> cs.map(c => c.t1 - c.t0).sum }
      val selfByLayer = spans.groupBy(s => s"${s.layer}.${s.name}").map { case (k, ss) =>
        k -> ss.map(s => s.t1 - s.t0 - childNs.getOrElse(s.id, 0L)).sum / 1e9
      }
      put(root.putObject("self_s"), selfByLayer)
      val arr = root.putArray("spans")
      spans.sortBy(_.t0).foreach { s =>
        arr.addObject().put("name", s"${s.layer}.${s.name}").put("start_s", (s.t0 - t0) / 1e9)
          .put("end_s", (s.t1 - t0) / 1e9).put("parent", s.parent).put("id", s.id)
          .put("unit", s.unit)
      }
    }
    val f = new java.io.File(a.sidecar)
    f.getParentFile.mkdirs()
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, root)
  }

  private def put(o: ObjectNode, m: Map[String, Double]): Unit =
    m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
}
