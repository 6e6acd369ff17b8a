package graftbench

/** Minimal JSON rendering for the benchmark's own result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.JsonOut.jstr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.JsonOut.jstr(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => graft.JsonOut.jstr(x.toString)
  }

  /** Writes `v` to `path` atomically (temp file + rename). */
  def write(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, apply(v).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
