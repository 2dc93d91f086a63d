package graft.sources

/** Staging-path scheme for queries that write-then-read under
  * [[root]] (the r13/r14 fixed-path hazard): a fixed literal path
  * lets two sessions running the same query — against DIFFERENT scale
  * factors (driver Verify at sf0.01 vs a bench at sf0.1), or the same
  * dir from two processes in one working directory — overwrite each
  * other's stage mid-read.
  *
  * [[forInput]] keys the path on the input dir: one stage per
  * (query, corpus), stable across runs — the form for stages an ORACLE
  * reads back by path (the DuckDB twin's SQL is a fixed string, so its
  * path cannot vary per process; see q_s13/q_s14's registration notes).
  * [[work]] additionally suffixes the owning process id: unique per
  * (query, corpus, process) — the form for write-then-reread scratch
  * space nothing outside this process ever reads.
  */
object Stage {
  /** Where every stage lives: `target/stage` under the JVM's working
    * directory, made absolute so the path means the same place to every
    * reader it is handed to (Hadoop FS, a catalog table, the DuckDB
    * oracle). */
  val root: String = new java.io.File("target/stage").getAbsolutePath

  private def tag(dir: String): String =
    dir.stripSuffix("/").replaceAll("[^A-Za-z0-9._-]", "_")

  def forInput(name: String, dir: String): String =
    s"$root/$name/${tag(dir)}"

  def work(name: String, dir: String): String =
    s"${forInput(name, dir)}_p${ProcessHandle.current().pid()}"
}
