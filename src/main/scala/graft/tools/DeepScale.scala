package graft.tools

/** Deep scale probe: times scale legs at 1× vs N× (default 100×) the sf
  * data, the multi-decade extension of Bench's 10× scale proof, through
  * the same legs and runner (`Legs.runScale`). Usage:
  *
  * {{{ runMain graft.tools.DeepScale [sfDir] [factor] [leg,...] }}}
  *
  * The leg list defaults to `Legs.deepScaleDefault`; any scale leg may be
  * named, and legs nobody names are never materialized, so a targeted
  * re-adjudication costs minutes, not the full factor-100 suite. Prints
  * one `DEEPSCALE_JSON:` line with per-leg (t1, tN, ratio, rows out).
  */
object DeepScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 100
    require(factor >= 2, "factor must be >= 2")
    val legs = Legs.everyScaleLeg.toMap
    val names = if (args.length > 2) args(2).split(",").toSeq else Legs.deepScaleDefault
    Legs.requireKnown(Legs.everyScaleLeg.map(_._1), names)
    val spark = Legs.session()
    val in = new Legs.ScaleInputs(spark, sfDir)
    try {
      val ops = Legs.runScale(in, names, factor).map { case (name, t1, tN) =>
        // rows out, untimed (VERDICT r11 #4): an output-linear op must
        // report its ratio per output row — a 147× wall ratio on 147× the
        // output rows is linear, not super-linear
        def rows(f: Int) = try legs(name)(f, in).count() catch { case _: Throwable => -1L }
        val (rows1, rowsN) = (rows(1), rows(factor))
        spark.sqlContext.clearCache()
        val ratio = if (t1 > 0 && tN > 0) tN / t1 else -1.0
        val rowNorm = if (rows1 > 0 && rowsN > 0 && t1 > 0 && tN > 0)
          (tN / rowsN) / (t1 / rows1) else -1.0
        println(f"[deepscale] $name%-18s t1=$t1%.2f s  t$factor%d=$tN%.2f s  ratio=$ratio%.1f  rows=$rows1%d->$rowsN%d  rownorm=$rowNorm%.2f (linear=$factor%d)")
        s""""$name":{"t1":${f"$t1%.3f"},"t$factor":${f"$tN%.3f"},"ratio":${f"$ratio%.2f"},"rows_out1":$rows1,"rows_outN":$rowsN,"ratio_rownorm":${f"$rowNorm%.2f"}}"""
      }
      // the sentinel stdout line IS the result; the curated repo record
      // (SCALE100.json) is updated by hand — the tool never writes into
      // the repository worktree
      println(s"""DEEPSCALE_JSON: {"factor":$factor,"rows1":${in.docRows(1)},"rowsN":${in.docRows(factor)},"sf":"$sfDir","ops":${ops.mkString("{", ",", "}")}}""")
    } finally {
      spark.stop()
      in.close()
    }
  }
}
