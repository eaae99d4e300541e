package graft.source

import org.apache.spark.sql.Dataset

/** Materialization-barrier policy for iterative plans.
  *
  * Every iterative operator in the engine (PageRank/PPR/HITS rounds,
  * connected components, k-means training, BPE merge rounds, the LSH
  * shingle tables, the global row-number construction) needs a hard
  * materialization point per round: it truncates the exponentially-deep
  * lineage and pins the round's result so later stages replay a scan, not
  * the whole history. `localCheckpoint()` is the right call in local mode —
  * zero filesystem traffic, blocks live in the executor block managers —
  * but it is NOT fault-tolerant on a real cluster: once lineage is
  * truncated, losing any executor that holds a pinned block fails the job,
  * because there is nothing left to recompute from. On a 1000-executor run
  * over 100 TB, executor loss is routine, so the scale-safe variant is a
  * RELIABLE checkpoint into the SparkContext checkpoint directory
  * (HDFS/object store), which survives any executor death.
  *
  * [[pin]] picks per the session conf `spark.graft.checkpoint`:
  *   - `auto` (default): reliable `Dataset.checkpoint()` when
  *     `SparkContext.setCheckpointDir` has been called (the operator knows
  *     it is on a cluster that configured durable storage), else
  *     `localCheckpoint()`. A local run needs no setup and keeps the fast
  *     path; a cluster run opts in with one `setCheckpointDir` call.
  *   - `local` / `reliable`: force one side (reliable without a configured
  *     dir fails loud rather than silently degrading to non-fault-tolerant
  *     blocks).
  *
  * Both sides are eager (materialize now) and both return a plan that
  * scans the pinned blocks, so the choice is invisible to results —
  * CheckpointSpec proves hash-identical output across the two policies for
  * a representative of each iterative family.
  */
object Checkpoint {
  val ModeConf = "spark.graft.checkpoint"

  /** Reliable `Dataset.checkpoint()` recomputes the plan a SECOND time to
    * write the checkpoint files unless the result is already cached —
    * persist first, checkpoint (reads the cached blocks), then drop the
    * cache (the returned plan scans the durable files, not the cache).
    * Without this every reliable pin costs ~2× the round's compute, on
    * exactly the iterative operators (BPE: hundreds of rounds) that pin
    * the most. The files themselves are GC'd by ContextCleaner because
    * GraftSession sets spark.cleaner.referenceTracking.cleanCheckpoints. */
  private def reliable[T](ds: Dataset[T]): Dataset[T] = {
    // A caller-owned cache must be left alone: persist() throws on a
    // different storage level, and unpersist() would drop the caller's
    // blocks. Only wrap when the dataset is not already cached.
    val ownCache = ds.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownCache) ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pinned = ds.checkpoint()
    if (ownCache) ds.unpersist(blocking = false)
    pinned
  }

  def pin[T](ds: Dataset[T]): Dataset[T] = {
    val session = ds.sparkSession
    val mode = session.conf.get(ModeConf, "auto")
    val dirSet = session.sparkContext.getCheckpointDir.isDefined
    mode match {
      case "local" => ds.localCheckpoint()
      case "reliable" =>
        if (!dirSet) throw new IllegalStateException(
          s"$ModeConf=reliable but no checkpoint directory is configured; " +
            "call SparkContext.setCheckpointDir(<durable path>) first " +
            "(a reliable checkpoint must outlive executor loss, so it " +
            "cannot silently fall back to local blocks)")
        reliable(ds)
      case "auto" => if (dirSet) reliable(ds) else ds.localCheckpoint()
      case other => throw new IllegalArgumentException(
        s"$ModeConf must be auto|local|reliable, got '$other'")
    }
  }

  /** `.pinned()` postfix form, so call sites read like the
    * `.localCheckpoint()` they replace. */
  implicit class PinOps[T](private val ds: Dataset[T]) extends AnyVal {
    def pinned(): Dataset[T] = pin(ds)
  }

  /** Per-ROUND pin policy for iterative operators (PageRank/PPR/HITS
    * rounds, k-core h-index rounds, CC label rounds). LOCAL mode is
    * exactly [[pin]] — an eager local checkpoint per round, the shape
    * every bench number in BENCH.md is measured on. (Two alternatives
    * were built and MEASURED SLOWER at sf0.1 in r14: lazy per-round
    * checkpoints — materialization riding the next round's broadcast
    * build — and persist-based setup caches that preserve partitioning
    * for exchange-free broadcast rounds; the columnar cache scan cost
    * more than the node-sized shuffle it saved, graph_hits 6.7→10.9 s.)
    *
    * DURABLE mode is where Rounds earns its keep: a reliable checkpoint
    * every third round and persist-only rounds between. The persisted
    * rounds keep lineage back to the last durable leaf, so executor loss
    * replays at most two rounds instead of paying a durable write EVERY
    * round (the measured r13 premium was 1.5–1.8× — almost all of it
    * per-round checkpoint I/O), while the durable write volume drops 3×.
    * [[seal]] closes the loop: the frame handed back to the caller is
    * always a durable leaf in durable mode, and intermediate round caches
    * are released. Results are bit-identical across policies (CheckpointSpec
    * / `graft.Dev checkpoint` assert hash equality in-run). */
  final class Rounds(session: org.apache.spark.sql.SparkSession) {
    private val stride = 3
    private val mode = session.conf.get(ModeConf, "auto")
    private val durable = mode == "reliable" ||
      (mode == "auto" && session.sparkContext.getCheckpointDir.isDefined)
    private var sinceDurable = 0
    private val caches = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

    def pin[T](ds: Dataset[T]): Dataset[T] =
      if (!durable) ds.localCheckpoint()
      else {
        sinceDurable += 1
        if (sinceDurable >= stride) { val p = Checkpoint.pin(ds); release(); p }
        else {
          ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          caches += ds
          ds
        }
      }

    /** Close the loop on its LAST pinned frame: in durable mode, force a
      * reliable leaf if the loop exited between strides and drop the
      * intermediate round caches; in local mode the frame is already an
      * eager local-checkpoint leaf and passes through. */
    def seal[T](ds: Dataset[T]): Dataset[T] =
      if (!durable || (sinceDurable == 0 && caches.isEmpty)) ds
      else { val p = Checkpoint.pin(ds); release(); p }

    private def release(): Unit = {
      caches.foreach(_.unpersist(blocking = false))
      caches.clear()
      sinceDurable = 0
    }
  }
}
