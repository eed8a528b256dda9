package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods.{parse, pretty}

/** Compares two benchmark result files (or two directories of them, paired
  * by workload and trace mode): every end-to-end and per-layer metric with
  * its change, the per-layer self time of the traced rows, and for each
  * layer metric the end-to-end metric it should move on that workload.
  *
  * Usage: Diff A B [out.json]
  */
object Diff {
  implicit val formats: Formats = DefaultFormats

  private def results(path: String): Seq[JValue] = {
    val p = Paths.get(path)
    val files =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.toArray.map(_.toString).filter(_.endsWith(".json")).sorted.toSeq
        finally s.close()
      } else Seq(path)
    files.map(f => parse(Files.readString(Paths.get(f))))
      .filter(j => (j \ "header" \ "workload") != JNothing)
  }

  private def key(j: JValue): (String, Boolean) =
    ((j \ "header" \ "workload").extract[String], (j \ "header" \ "trace").extract[Boolean])

  private def values(j: JValue, field: String): Map[String, Double] =
    (j \ field).extractOpt[Map[String, Double]].getOrElse(Map.empty)

  /** Self time by span name, summed over the traced warm rows. */
  private def selfByLayer(j: JValue): Map[String, Double] =
    (j \ "rows_traced").children.filter(r => (r \ "pass").extract[String] == "warm")
      .flatMap(r => (r \ "spans").children.map(s =>
        (s \ "name").extract[String] -> (s \ "self_ms").extract[Double] / 1e3))
      .groupMapReduce(_._1)(_._2)(_ + _)

  private def compare(a: JValue, b: JValue): JValue = {
    val (workload, traced) = key(a)
    val catalogue = (Metrics.endToEnd ++ Metrics.perLayer).map(m => m.name -> m).toMap
    def rows(field: String, va: Map[String, Double], vb: Map[String, Double]) =
      (va.keySet ++ vb.keySet).toList.sorted.map { n =>
        val (x, y) = (va.get(n), vb.get(n))
        val m = catalogue.get(n)
        val change = for (p <- x; q <- y) yield q - p
        val rel = for (p <- x; c <- change if p != 0) yield c / math.abs(p)
        println(f"  $field%-10s $n%-26s ${x.fold("-")(v => f"$v%.4f")}%12s " +
          f"${y.fold("-")(v => f"$v%.4f")}%12s ${rel.fold("")(r => f"${r * 100}%+.1f%%")}%9s" +
          m.filter(_.moves.nonEmpty).fold("")(mm =>
            s"  -> ${mm.moves}${if (mm.on.contains(workload)) " (here)" else ""}"))
        JObject("metric" -> JString(n), "a" -> x.fold[JValue](JNull)(JDouble(_)),
          "b" -> y.fold[JValue](JNull)(JDouble(_)),
          "change" -> change.fold[JValue](JNull)(JDouble(_)),
          "relative" -> rel.fold[JValue](JNull)(JDouble(_)),
          "moves" -> m.fold[JValue](JNull)(mm => JString(mm.moves)),
          "moves_here" -> JBool(m.exists(_.on.contains(workload))))
      }
    println(s"$workload (trace ${if (traced) 1 else 0})")
    JObject(
      "workload" -> JString(workload), "trace" -> JBool(traced),
      "end_to_end" -> JArray(rows("e2e", values(a, "end_to_end"), values(b, "end_to_end"))),
      "per_layer" -> JArray(rows("layer", values(a, "per_layer"), values(b, "per_layer"))),
      "self_time" -> JArray(rows("self_s", selfByLayer(a), selfByLayer(b))))
  }

  def main(args: Array[String]): Unit = {
    val (as, bs) = (results(args(0)), results(args(1)))
    val byKey = bs.map(j => key(j) -> j).toMap
    val pairs = as.flatMap(a => byKey.get(key(a)).map(a -> _))
    if (pairs.isEmpty) {
      System.err.println("perfbench: no result pairs with the same workload and trace mode")
      sys.exit(2)
    }
    val out = JArray(pairs.map { case (a, b) => compare(a, b) }.toList)
    args.lift(2).foreach(f => Files.writeString(Paths.get(f), pretty(out)))
  }
}
