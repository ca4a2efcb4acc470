package graft.tools

import graft.lake.LakeTable

/** Operator CLI for a lake table — the DESCRIBE TABLE / DESCRIBE
  * HISTORY equivalent. Metadata-only: reads the snapshot chain and
  * manifest refs, opens no data file.
  *
  *   runMain graft.tools.Describe <lakeRoot>            # current state
  *   runMain graft.tools.Describe <lakeRoot> history    # snapshot chain
  *   runMain graft.tools.Describe <lakeRoot> files      # per-file stats
  */
object Describe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Describe <lakeRoot> [history|files]")
    val lake = new LakeTable(args(0))
    val mode = args.lift(1).getOrElse("table")
    mode match {
      case "table" =>
        val s = lake.snapshot()
        val counts = s.manifests.groupBy(_.bucket).view.mapValues(_.map(_.fileCount).sum)
        println(s"version:          ${s.version}")
        println(s"schemaId:         ${s.schemaId}")
        println(s"mode:             ${if (s.mor) "merge-on-read" else "copy-on-write"}")
        println(s"buckets:          ${s.buckets}")
        println(s"lastBatchId:      ${s.lastCommittedBatchId}")
        if (s.fences.nonEmpty)
          println(s"writer fences:    ${s.fences.toSeq.sorted
            .map { case (w, b) => s"$w=$b" }.mkString(" ")}")
        val refs = lake.refs()
        if (refs.nonEmpty)
          println(s"refs:             ${refs.toSeq.sortBy(_._1)
            .map { case (n, (k, v)) => s"$n($k)=v$v" }.mkString(" ")}")
        println(s"manifest refs:    ${s.manifests.size}")
        println(s"data files:       ${counts.values.sum}")
        println(s"rows (manifest):  ${s.manifests.map(_.rows).sum}")
        println(s"files per bucket: ${counts.toSeq.sortBy(_._1)
          .map { case (b, n) => s"$b=$n" }.mkString(" ")}")
        println("schema:")
        lake.schema().fields.foreach(f =>
          println(s"  ${f.name}: ${f.dataType.simpleString}${if (f.nullable) "" else " NOT NULL"}"))
      case "history" =>
        println("version  batchId  schemaId  refs  files  rows")
        lake.versions().foreach { v =>
          val s = lake.snapshot(v)
          println(f"${s.version}%7d  ${s.lastCommittedBatchId}%7d  ${s.schemaId}%8d  " +
            f"${s.manifests.size}%4d  ${s.manifests.map(_.fileCount).sum}%5d  " +
            f"${s.manifests.map(_.rows).sum}%d")
        }
      case "files" =>
        println("bucket  rows  maxSeq  repoRange  pathRange  path")
        lake.files().foreach { f =>
          def r(a: Option[String], b: Option[String]) =
            (a, b) match { case (Some(x), Some(y)) => s"[$x..$y]"; case _ => "[?]" }
          println(f"${f.bucket}%6d  ${f.rows}%4d  ${f.maxSeq.fold("?")(_.toString)}%6s  " +
            s"${r(f.minRepo, f.maxRepo)}  ${r(f.minPath, f.maxPath)}  ${f.path}")
        }
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }
}
