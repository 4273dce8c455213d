package graft.api

/** A map/group/reduce job, mirroring the reference's `new_manager_job`
  * message fields (`/root/reference/mapreduce/submit.py:68-76`): input and
  * output directories, a mapper and a reducer, and the stage parallelism.
  *
  * `inputDirectory` is a local directory or a single local file. A
  * directory's regular files are read in name order; names starting with
  * `_` or `.` are skipped (Hadoop's hidden-file rule), and a subdirectory
  * or a missing path fails the job with an `IllegalArgumentException`
  * before any Spark job runs ([[graft.sources.LineSource.files]]).
  * `numMappers` sets the split size as Hadoop's FileInputFormat does:
  * total bytes / `numMappers`, at most 32 MiB.
  *
  * `mapperExecutable` / `reducerExecutable` accept either
  *   - a native operator name registered in [[graft.ops.MapStage]] /
  *     [[graft.ops.ReduceStage]] ("wc_map", "grep_map", "wc_reduce",
  *     "grep_reduce"), or
  *   - a path to an external line-oriented executable (must exist on disk),
  *     run via `RDD.pipe` exactly like the reference pipes whole files
  *     through the program's stdin/stdout
  *     (`/root/reference/mapreduce/worker/__main__.py:144-168`).
  */
final case class JobSpec(
    inputDirectory: String,
    outputDirectory: String,
    mapperExecutable: String = "wc_map",
    reducerExecutable: String = "wc_reduce",
    numMappers: Int = 4,
    numReducers: Int = 1
) {
  require(numMappers > 0, "numMappers must be positive")
  require(numReducers > 0, "numReducers must be positive")
}

/** Completed-job summary: id plus the final `outputfileNN` paths.
  * `startedNanos`/`finishedNanos` bracket the job's execution on the
  * engine's single-thread queue (monotonic clock), so a client can see
  * each job's own wall and that queued jobs ran one after another.
  */
final case class JobResult(
    jobId: Int,
    outputFiles: Seq[String],
    startedNanos: Long = 0L,
    finishedNanos: Long = 0L)
