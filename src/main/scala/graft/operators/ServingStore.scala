package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one lifecycle of every persisted serving store — plain parquet
  * stores, the posting index, the ANN indexes and their ground truth,
  * the fact layout and the LM statistics alike. A store under `path` is
  * fresh iff the sidecar at `path + "_model"` stamps the caller's
  * fingerprint, names a generation directory, every artifact of that
  * generation holds committed data, and the family can open it.
  * Otherwise a NEW generation is built and the sidecar is stamped AFTER
  * the build commits, so a crash in between leaves the previous stamp
  * (or none) and the next serve rebuilds — never a fresh-looking stale
  * store.
  *
  * Every build, compaction and merge-append writes a UNIQUE directory
  * (`path/gen_<fp-hex>_<nonce>`, nonce a random UUID) that the sidecar
  * then names: nothing ever overwrites, deletes or moves a file that a
  * live reader may have listed, even when a corpus cycles back to an
  * earlier fingerprint. The previously stamped generation survives
  * exactly one more commit for readers handed out before it; older ones
  * are pruned, bounding a store at two generations of disk. When the
  * sidecar is unreadable the previous generation is UNKNOWN, so pruning
  * is skipped rather than guessed. A pre-generation (flat layout)
  * sidecar reads as unproven and migrates with one rebuild, which prunes
  * the flat files: no reader of this code can hold them.
  *
  * A generation is one parquet directory, or a [[Layout]] of named
  * artifacts ([[Part]]s):
  *   - bucketed parts are registered as catalog tables whose names carry
  *     the generation nonce AND the stamped fingerprint
  *     ([[Generation.table]]), created with `CREATE TABLE IF NOT EXISTS`
  *     — no session can resolve a cached relation of another generation
  *     or another stamp, and no `DROP TABLE` runs outside [[prune]];
  *   - delta-only families append IN PLACE into the live generation
  *     ([[appendInPlace]]): new files land next to the existing ones and
  *     the new stamp renames the tables. A part an append recomputes
  *     whole is RESTAMPED — it lives in a directory suffixed with the
  *     stamp, so the previous stamp's copy survives one append for its
  *     readers;
  *   - [[compact]] rewrites the live generation into a new one under the
  *     same stamp; parts it does not rewrite are [[carry]]-linked across.
  *
  * Builds, appends and compactions run under a lock directory at
  * `path + "_lock"`: a loser waits, then re-reads the sidecar and almost
  * always serves the winner's generation without building. A crashed
  * holder's lock is taken over after [[ServingStore.LockStaleMs]]
  * (lock-dir mtime). The one crash point of the protocol sits between a
  * generation's last write and its stamp ([[commit]]).
  */
private[graft] object ServingStore {

  /** Typed [[append]] refusals — protocol callers (the streaming
    * [[graft.streaming.SigSink]]) dispatch on the TYPE, never on the
    * human-readable message (the r14 review: substring dispatch turns
    * a message rewording into a stream-killing regression). They
    * extend IllegalArgumentException so existing intercepts and the
    * require-style call sites keep their contract. */
  private[graft] sealed abstract class AppendRefused(msg: String)
      extends IllegalArgumentException(msg)
  /** storedFp != the caller's pre-delta snapshot: the store is stale. */
  private[graft] final class StaleStoreRefusal(msg: String) extends AppendRefused(msg)
  /** The post-delta fingerprint did not advance: delta files not landed. */
  private[graft] final class DeltaNotLandedRefusal(msg: String) extends AppendRefused(msg)
  /** Delta unique keys already present in the generation: double append. */
  private[graft] final class KeysAlreadyPresentRefusal(msg: String) extends AppendRefused(msg)

  /** A corpus-global model (IDF weights) has drifted past its
    * staleness bound: serving it for one more delta would exceed the
    * operator's quantified accuracy contract — rebuild instead. */
  private[graft] final class ModelDriftRefusal(msg: String) extends AppendRefused(msg)

  /** What the sidecar proves about the store. */
  private[graft] sealed trait SidecarState
  /** Generation layout: fp + the generation directory it names. */
  private[graft] final case class Stamped(fp: Long, gen: String) extends SidecarState
  /** Readable sidecar from the pre-generation flat layout (fp only, no
    * generation name): the flat files are unproven and must migrate —
    * and since this code never serves them, they are safe to prune on
    * the migration rebuild. */
  private[graft] case object LegacyFlat extends SidecarState
  /** Missing or unreadable sidecar: the live generation is UNKNOWN. */
  private[graft] case object Unknown extends SidecarState

  /** One artifact of a generation: the parquet directory `<gen>/<name>`.
    * `bucketBy` = (key, buckets) registers it as a bucketed catalog
    * table; a `restamped` part is recomputed whole by every append and
    * lives at `<gen>/<name>_<stamp-hex>`. */
  private[graft] final case class Part(name: String, bucketBy: Option[(String, Int)],
      restamped: Boolean)
  private[graft] def plain(name: String): Part = Part(name, None, restamped = false)
  private[graft] def bucketed(name: String, key: String, buckets: Int): Part =
    Part(name, Some((key, buckets)), restamped = false)
  private[graft] def restamped(name: String): Part = Part(name, None, restamped = true)

  /** The artifacts of a generation; [[Flat]] = the generation directory
    * itself is the one parquet dataset. */
  private[graft] final case class Layout(parts: Seq[Part]) {
    def apply(name: String): Part =
      parts.find(_.name == name).getOrElse(sys.error(s"no part $name in $this"))
  }
  private[graft] val Flat: Layout = Layout(Nil)

  /** A generation under its stamp: `dir` plus the fingerprint the
    * sidecar stamps for it (an in-place append keeps `dir` and
    * advances `fp`). */
  private[graft] final case class Generation(dir: String, fp: Long, layout: Layout) {
    private def hex: String = java.lang.Long.toHexString(fp)
    /** Directory of a part at this stamp. */
    def apply(name: String): String =
      if (layout(name).restamped) s"$dir/${name}_$hex" else s"$dir/$name"
    /** Catalog name of a bucketed part: unique per (generation, stamp). */
    def table(name: String): String =
      s"graft_${name}_${nonce(dir)}_$hex"
    /** Write a bucketed part (`mode` overwrite in a build, append in a
      * delta). Bucket ids live in the file names, so an append keeps
      * the bucket spec and the exchange-free key joins. */
    def writeBucketed(name: String, df: DataFrame, mode: String): Unit = {
      val (key, n) = layout(name).bucketBy.get
      df.write.mode(mode).format("parquet").bucketBy(n, key).sortBy(key)
        .option("path", absolute(apply(name))).saveAsTable(table(name))
    }
  }

  private def nonce(gen: String): String =
    java.nio.file.Paths.get(gen).getFileName.toString.split('_').last

  private def absolute(p: String): String = new java.io.File(p).getAbsolutePath

  /** Unique directory for a NEW generation: fingerprint for
    * auditability plus a random-UUID nonce for uniqueness — never
    * reuses a directory a previous build (even of the same fp, even
    * from another process) may have handed to a live reader. */
  private[graft] def newGenerationPath(path: String, fp: Long): String =
    path + "/gen_" + java.lang.Long.toHexString(fp) + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")

  private[graft] def sidecarState(spark: SparkSession, what: String,
      path: String): SidecarState =
    // a sidecar that does not exist yet is the normal first build
    if (!new java.io.File(path + "_model").exists()) Unknown
    else
      try {
        val df = spark.read.parquet(path + "_model")
        if (!df.columns.contains("gen")) LegacyFlat
        else {
          val r = df.select(col("fp"), col("gen")).collect()(0)
          Stamped(r.getLong(0), path + "/" + r.getString(1))
        }
      } catch {
        // a present-but-broken sidecar must be OBSERVABLE, or a persistent
        // IO error degrades into a silent rebuild on every call
        case e if scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"$what sidecar at ${path}_model unreadable; rebuilding", e)
          Unknown
      }

  /** (fp, generation dir path) from the sidecar — None when unreadable
    * (warned) or when it predates the generation layout (no warn: that
    * is the documented migration path). */
  private[graft] def readSidecar(spark: SparkSession, what: String,
      path: String): Option[(Long, String)] =
    sidecarState(spark, what, path) match {
      case Stamped(fp, gen) => Some((fp, gen))
      case _ => None
    }

  /** The stamped generation of the store under `path`, whatever its
    * fingerprint — for maintenance and inspection, never a freshness
    * proof. */
  private[graft] def live(spark: SparkSession, what: String, path: String,
      layout: Layout): Option[Generation] =
    readSidecar(spark, what, path).map { case (fp, gen) => Generation(gen, fp, layout) }

  private[graft] def writeSidecar(spark: SparkSession, path: String, fp: Long,
      gen: String): Unit =
    spark.range(1)
      .select(lit(fp).as("fp"),
        lit(java.nio.file.Paths.get(gen).getFileName.toString).as("gen"))
      .coalesce(1).write.mode("overwrite").parquet(path + "_model")

  /** Age after which another builder's lock is presumed crashed and
    * taken over. Volatile so the adversarial specs can shrink it. */
  @volatile private[graft] var LockStaleMs: Long = 30L * 60 * 1000

  /** Crash-point injection seam for the two-process crash harness
    * ([[graft.tools.StoreContention]]): when the GRAFT_CRASH_POINT env
    * var names this tag, halt the JVM on the spot — `Runtime.halt`
    * runs no shutdown hooks and no finally blocks, the closest
    * in-process stand-in for `kill -9` at an exact line. Unset in
    * production: one map lookup, no hot path. */
  private def crashPoint(tag: String): Unit =
    if (sys.env.get("GRAFT_CRASH_POINT").contains(tag)) {
      Console.err.println(s"[crash-point] halting at $tag")
      Runtime.getRuntime.halt(137)
    }

  private[graft] def lockPath(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path + "_lock")

  /** Run `body` holding the store's build lock (a lock DIRECTORY —
    * creation is atomic on every local filesystem). Contenders poll;
    * a lock older than [[LockStaleMs]] is presumed abandoned by a
    * crashed builder and taken over. Callers re-check freshness under
    * the lock, so a waiting loser serves the winner's generation
    * instead of building again. */
  private[graft] def withBuildLock[T](path: String)(body: => T): T = {
    val lock = lockPath(path)
    Option(lock.getParent).foreach(java.nio.file.Files.createDirectories(_))
    // ownership nonce: release must only remove a lock THIS holder still
    // owns — after a (mistaken or legitimate) takeover, the original
    // holder's nonce went with the renamed tombstone, so its release
    // sees a foreign lock and leaves it alone instead of unlocking the
    // new holder's build
    val nonce = "owner_" + java.util.UUID.randomUUID().toString.replace("-", "")
    var acquired = false
    while (!acquired) {
      try {
        java.nio.file.Files.createDirectory(lock)
        java.nio.file.Files.createFile(lock.resolve(nonce))
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val stale =
            try {
              val age = System.currentTimeMillis() -
                java.nio.file.Files.getLastModifiedTime(lock).toMillis
              age > LockStaleMs
            } catch {
              // vanished between the failed create and the stat: retry
              case _: java.io.IOException => false
            }
          if (stale) {
            // takeover must be ATOMIC: delete-then-create lets contender
            // B's delayed delete remove contender A's freshly created
            // lock (two builders then hold it at once — r12 advice).
            // Rename the stale lock to a contender-unique tombstone
            // instead: same-directory Files.move with ATOMIC_MOVE is
            // atomic on local filesystems, so exactly ONE renamer owns
            // the stale lock; it removes the tombstone and loops into
            // the normal createDirectory race. Losers' moves throw (the
            // source is gone) and they just re-enter the loop. A crash
            // between move and delete leaks a tombstone dir that
            // blocks nothing (it is not the lock path).
            val tomb = java.nio.file.Paths.get(path + "_lock_tomb_" +
              java.util.UUID.randomUUID().toString.replace("-", ""))
            try {
              java.nio.file.Files.move(lock, tomb,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              // the renamed dir still carries the crashed holder's
              // owner_* nonce file — delete bottom-up
              deleteTree(tomb)
            } catch { case _: java.io.IOException => () }
          } else Thread.sleep(50)
      }
    }
    // heartbeat: a legitimate build longer than LockStaleMs must not
    // read as abandoned — a daemon thread refreshes the lock mtime at a
    // third of the staleness bound, so takeover only ever fires on a
    // holder that actually stopped (crashed process, dead JVM). Touch
    // failures are swallowed: if the lock was stolen anyway (extreme
    // clock skew), the ownership check below keeps release correct.
    val beat = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(1000L, LockStaleMs / 3))
          try java.nio.file.Files.setLastModifiedTime(lock,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lock-heartbeat-${lock.getFileName}")
    beat.setDaemon(true)
    beat.start()
    try body
    finally {
      beat.interrupt()
      try {
        // release ONLY if our nonce is still inside — i.e. the lock dir
        // is still the one we created, not a successor's
        if (java.nio.file.Files.deleteIfExists(lock.resolve(nonce)))
          java.nio.file.Files.deleteIfExists(lock)
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Freshness-aware serve memo: the sidecar parquet IS the freshness
    * proof, but re-reading it (and re-opening the generation — a model
    * collect, a file listing) costs a Spark job of driver overhead per
    * serve. The memo keys each store's OPENED value on a driver-side
    * stat SIGNATURE of the sidecar directory (file names + lengths +
    * mtimes — microseconds on the node-local warehouse): any commit
    * rewrites the sidecar, changing the signature and invalidating the
    * entry, so the freshness semantics are exactly the sidecar read's,
    * minus the parquet round-trips. Session-scoped (opened values bind
    * a session's catalog and plans). */
  private final case class Memo(sig: String, gen: Generation, session: SparkSession,
      value: Any)
  private val serveMemo = new java.util.concurrent.ConcurrentHashMap[String, Memo]()

  private def sidecarSig(path: String): String = {
    val dir = java.nio.file.Paths.get(path + "_model")
    if (!java.nio.file.Files.isDirectory(dir)) "absent"
    else
      try {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(dir)
        try s.iterator().asScala.toSeq
          .map(p => p.getFileName.toString + ":" + java.nio.file.Files.size(p) + ":" +
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .sorted.mkString("|")
        finally s.close()
      } catch {
        // a concurrent sidecar rewrite (writeSidecar's overwrite deletes
        // the old part files) can vanish a just-listed file before its
        // stat — the signature is mid-change, so return a UNIQUE token:
        // the memo misses and the slow path's own handlers take over,
        // instead of the stat race crashing the query
        case _: java.io.IOException | _: java.io.UncheckedIOException =>
          "racing_" + System.nanoTime()
      }
  }

  /** Every part holds committed data (>= 1 non-marker entry): a
    * directory Spark created at job setup, or a part lost after the
    * stamp, must read incomplete — never register a dataless table. */
  private def complete(g: Generation): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(g.dir)) &&
      g.layout.parts.forall { p =>
        val fs = new java.io.File(g(p.name)).listFiles()
        fs != null && fs.exists(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      }

  /** Serialises catalog registration inside the JVM: `CREATE TABLE IF
    * NOT EXISTS` checks and creates in two steps, so two threads
    * registering the same name at once would otherwise race to
    * TABLE_OR_VIEW_ALREADY_EXISTS. */
  private val registering = new Object

  /** Register the generation's bucketed parts under their stamp's names
    * (schema from the files; the bucket spec from the layout). */
  private def register(spark: SparkSession, g: Generation): Unit =
    g.layout.parts.foreach { p =>
      p.bucketBy.foreach { case (key, n) =>
        val name = g.table(p.name)
        if (!spark.catalog.tableExists(name)) registering.synchronized {
          val loc = absolute(g(p.name))
          spark.sql(
            s"""CREATE TABLE IF NOT EXISTS $name (${spark.read.parquet(loc).schema.toDDL})
               |USING parquet CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS
               |LOCATION '$loc'""".stripMargin)
        }
      }
    }

  /** Ensure a generation of the store under `path` matching `fp`;
    * `build` must write the store to the directory it is handed.
    * Returns the fresh generation as a lazy parquet read. */
  def ensure(spark: SparkSession, what: String, path: String, fp: Long)(
      build: String => Unit): DataFrame =
    serve(spark, what, path, fp, Flat, force = false)(g => build(g.dir))(
      g => spark.read.parquet(g.dir))

  /** Unconditionally build and stamp a NEW generation for `fp`, even
    * when the sidecar already claims `fp` — for the one case where the
    * fingerprint is current but the CONTENT is proven incomplete: the
    * streaming-append landing race ([[graft.streaming.SigSink]]), where
    * batch N's `postFp` stamped a fingerprint that also covered batch
    * N+1's files while only N's rows were merged. [[ensure]] cannot
    * repair that state (fp matches, so it serves the incomplete
    * generation); this rebuild covers every landed file by
    * construction. Live readers keep the previous generation for one
    * cycle. */
  private[graft] def rebuild(spark: SparkSession, what: String, path: String,
      fp: Long)(build: String => Unit): DataFrame =
    serve(spark, what, path, fp, Flat, force = true)(g => build(g.dir))(
      g => spark.read.parquet(g.dir))

  /** The core ensure: serve the fresh generation of `layout` for `fp`
    * (registered, then `open`ed and memoized per session), or build a
    * new one under the lock — always when `force`. A fresh generation
    * that fails to `open` (a model written under retuned constants,
    * say) is rebuilt like a stale one. */
  private[graft] def serve[T](spark: SparkSession, what: String, path: String, fp: Long,
      layout: Layout, force: Boolean)(build: Generation => Unit)(open: Generation => T): T = {
    val memoKey = System.identityHashCode(spark).toString + "|" + path
    // `sig` must be a signature captured BEFORE the sidecar read that
    // chose the generation (or computed under the build lock, where
    // sidecar writes are serialized): storing a signature recomputed
    // AFTER the choice would let a concurrent same-fp rebuild landing in
    // between bind the NEW sidecar signature to the OLD generation's
    // value, and every later serve would memo-hit a pruned generation.
    // With the pre-read signature the worst case is one stale memo MISS.
    val sig0 = sidecarSig(path)
    def opened(g: Generation, sig: String): T = {
      register(spark, g)
      val v = open(g)
      // crude bound: one entry per (session, store) — dozens in any real
      // process — but a session-cycling harness would otherwise grow it
      // without limit; reset rather than LRU, the rebuild cost is one
      // sidecar read per store
      if (serveMemo.size > 256) serveMemo.clear()
      serveMemo.put(memoKey, Memo(sig, g, spark, v))
      v
    }
    def fresh(state: SidecarState, sig: String): Option[T] = state match {
      case Stamped(f, dir) if f == fp && complete(Generation(dir, f, layout)) =>
        try Some(opened(Generation(dir, f, layout), sig))
        catch {
          case e if scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"$what generation at $dir does not open; rebuilding", e)
            None
        }
      case _ => None
    }
    val memoized = Option(serveMemo.get(memoKey)).collect {
      // the identity hash is not unique across a collected session's
      // lifetime: the session check keeps a hash-reusing new session
      // from being served a dead session's value
      case m if !force && m.sig == sig0 && m.gen.fp == fp && (m.session eq spark) &&
        complete(m.gen) =>
        register(spark, m.gen)
        m.value.asInstanceOf[T]
    }
    memoized
      .orElse(if (force) None else fresh(sidecarState(spark, what, path), sig0))
      .getOrElse(withBuildLock(path) {
        // re-check under the lock: a concurrent builder we waited out
        // has usually stamped the store fresh already — serve it
        val state = sidecarState(spark, what, path)
        (if (force) None else fresh(state, sidecarSig(path))).getOrElse {
          val g = Generation(newGenerationPath(path, fp), fp, layout)
          build(g)
          commit(spark, what, path, g, state)
          opened(g, sidecarSig(path))
        }
      })
  }

  /** Stamp a fully written generation and prune everything but it and
    * the previously stamped one (live readers hold that for one cycle).
    * A LEGACY sidecar proves the flat layout, which this code never
    * served: the migration prunes it outright. An UNREADABLE sidecar
    * means the live generation is unknown — skip pruning. A new
    * generation under an UNCHANGED stamp (compaction, forced rebuild)
    * is invisible to the corpus stamp of [[graft.PlanCache]], so its
    * memoized plans are dropped; they would still read the previous
    * generation correctly, but not past the next prune. */
  private def commit(spark: SparkSession, what: String, path: String, g: Generation,
      prev: SidecarState): Unit = {
    crashPoint(s"$what.commit")
    writeSidecar(spark, path, g.fp, g.dir)
    prev match {
      case Stamped(prevFp, prevGen) =>
        prune(spark, path, keep = Set(g.dir, prevGen))
        if (prevFp == g.fp) graft.PlanCache.invalidate()
      case LegacyFlat => prune(spark, path, keep = Set(g.dir))
      case Unknown => ()
    }
  }

  /** The stamped generation, or the typed refusal to maintain it. */
  private def stamped(state: SidecarState, what: String, path: String,
      layout: Layout): Generation =
    state match {
      case Stamped(f, dir) =>
        val g = Generation(dir, f, layout)
        if (!complete(g)) throw new IllegalStateException(
          s"$what generation at $dir has uncommitted artifacts — rebuild " +
            "instead of maintaining it")
        g
      case LegacyFlat => throw new StaleStoreRefusal(
        s"$what store at $path predates the generation layout version — " +
          "rebuild it, never append a delta into a legacy shape")
      case Unknown => throw new IllegalStateException(
        s"$what sidecar at ${path}_model unreadable — rebuild instead of " +
          "maintaining an unproven generation")
    }

  /** Append a delta IN PLACE into the live generation — the protocol of
    * the delta-only families (posting index, fact layout, IVF and IVF-PQ
    * lists), whose generations are too large to copy per ingest. Under
    * the lock: the sidecar must stamp a complete generation; `stamp`
    * runs the family's refusals against it and returns the post-delta
    * fingerprint; `write` then lands the delta's files into the
    * generation AT that stamp (bucketed parts registered under the new
    * names, restamped parts in fresh directories) and the sidecar
    * advances only after it returns. Existing files are never
    * rewritten; restamped parts older than the previous stamp are
    * dropped. Returns the generation at its new stamp. */
  private[graft] def appendInPlace(spark: SparkSession, what: String, path: String,
      layout: Layout)(stamp: Generation => Long)(write: Generation => Unit): Generation =
    withBuildLock(path) {
      val prev = stamped(sidecarState(spark, what, path), what, path, layout)
      val next = prev.copy(fp = stamp(prev))
      register(spark, next)
      write(next)
      crashPoint(s"$what.commit")
      writeSidecar(spark, path, next.fp, next.dir)
      layout.parts.filter(_.restamped).foreach { p =>
        val keep = Set(prev(p.name), next(p.name)).map(absolute)
        Option(new java.io.File(next.dir).listFiles).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith(p.name + "_") && !keep(f.getAbsolutePath))
          .foreach(f => deleteTree(f.toPath))
      }
      next
    }

  /** Rewrite the live generation into a NEW one under the same stamp —
    * compaction, or a retrain over the generation's own rows. `rewrite`
    * writes every part of its second argument from the first; the
    * previous generation stays listed for one cycle, so a reader
    * planned before the compaction keeps collecting. */
  private[graft] def compact(spark: SparkSession, what: String, path: String,
      layout: Layout)(rewrite: (Generation, Generation) => Unit): Unit =
    withBuildLock(path) {
      val state = sidecarState(spark, what, path)
      val from = stamped(state, what, path, layout)
      val to = Generation(newGenerationPath(path, from.fp), from.fp, layout)
      rewrite(from, to)
      commit(spark, what, path, to, state)
    }

  /** A part a compaction does not rewrite rides into the new generation
    * byte-for-byte: its files are hard-linked (no bytes copied; names
    * and mtimes identical; pruning the old generation keeps them). */
  private[graft] def carry(from: Generation, to: Generation, part: String): Unit = {
    val src = java.nio.file.Paths.get(from(part))
    val dst = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(to(part)))
    list(src).foreach(f => java.nio.file.Files.createLink(dst.resolve(f.getFileName), f))
  }

  /** Merge-append a delta into a NEW generation — the incremental-ingest
    * protocol of the small per-row stores ([[Forecast.appendDayStats]]'s
    * shape): the WHOLE append runs under the build lock; the sidecar
    * must prove the live generation was built for `expectedFp` (else
    * the store is stale — rebuild, don't append); `postFp` is evaluated
    * under the lock AFTER the caller's invalidations and must differ
    * from the stored fp, so a delta whose files never landed cannot
    * stamp fresh-looking state; `merge(prev, delta)` writes a NEW
    * generation (live readers keep the previous one) and prune keeps
    * {new, prev}. With `uniqueKey` set, delta keys already present in
    * the live generation are refused loudly — for pure per-row stores
    * a key on both sides means the same rows were appended twice and
    * every downstream dedup would pair rows with themselves.
    *
    * Only valid for stores whose rows are PURE functions of their own
    * input rows (media hashes, minhash/simhash/embedding-LSH
    * signatures): a store derived corpus-globally (IDF weights and the
    * signatures joined against them, hot-cell assignment masks) cannot
    * absorb a delta row-locally — its append IS the rebuild. (r16: the
    * IDF store now has a BOUNDED-staleness escape,
    * [[Dedup.appendSimhashIdf]] — delta signatures against the served
    * stale weights while corpus growth stays inside a quantified drift
    * bound, typed refusal beyond it.)
    *
    * DISCLOSED PRECONDITION (shared by every append API here,
    * [[appendInPlace]] included): the caller is the only agent landing
    * corpus files between its fingerprint snapshot and the append — the
    * single-ingest-writer contract of an ingest pipeline. The stamped
    * post-delta fingerprint hashes the WHOLE dir, so files landed
    * out-of-band in that window would be covered by the stamp while
    * their rows are absent from the merged store, and no refusal can
    * see it (a dir hash cannot prove which files a delta frame came
    * from; a writer-stamped manifest would — the same residual the
    * corpusFingerprint docstring discloses). */
  private[graft] def append(spark: SparkSession, what: String, path: String,
      expectedFp: Long, delta: DataFrame, postFp: () => Long,
      merge: (DataFrame, DataFrame) => DataFrame = _ unionByName _,
      uniqueKey: Option[String] = None): Unit = {
    withBuildLock(path) {
      val state = sidecarState(spark, what, path)
      val (storedFp, prevGen) = state match {
        case Stamped(f, g) => (f, g)
        case _ => throw new IllegalStateException(
          s"$what sidecar at ${path}_model unreadable or pre-generation " +
            "layout — run the full ensure rebuild instead of appending " +
            "into an unproven generation")
      }
      if (storedFp != expectedFp) throw new StaleStoreRefusal(
        s"$what store at $path was built for a different corpus state " +
          s"(stored fp $storedFp != pre-delta fp $expectedFp): the store " +
          "is stale and must be rebuilt, not appended into")
      // the landed-delta refusal runs FIRST: it is a driver-side dir
      // listing, while the key probe and the merge evaluate the delta —
      // for media that is a decode pass, which a refused append must
      // not pay
      val newFp = postFp()
      if (newFp == storedFp) throw new DeltaNotLandedRefusal(
        s"corpus fingerprint unchanged after the delta (still $storedFp) — " +
          "land the delta files BEFORE appending, so the stamped " +
          "fingerprint proves the merged state")
      // one evaluation of the (possibly expensive) delta feeds BOTH the
      // key probe and the merge write
      val deltaOnce = delta.localCheckpoint(eager = false)
      val prev = spark.read.parquet(prevGen)
      uniqueKey.foreach { k =>
        // delta keys are few, but the checkpointed delta has no stats
        // (LogicalRDD defaults to unknown size), so auto-broadcast never
        // fires — hint it explicitly or the probe sort-merges, shuffling
        // the whole store on every append
        if (!prev.join(broadcast(deltaOnce.select(col(k)).distinct()), Seq(k)).isEmpty)
          throw new KeysAlreadyPresentRefusal(
            s"delta ${k}s already present in the generation at $prevGen — " +
              "the same rows were appended twice; rebuild instead")
      }
      val g = Generation(newGenerationPath(path, newFp), newFp, Flat)
      merge(prev, deltaOnce).write.mode("overwrite").parquet(g.dir)
      commit(spark, what, path, g, state)
    }
  }

  /** Retire the whole store under `path` when `doomed` still holds
    * under its lock: the sidecar goes FIRST (a crash mid-retire reads as
    * unproven, never as a half-deleted fresh store), then every
    * generation with its catalog tables. Returns whether it retired. */
  private[graft] def retire(spark: SparkSession, path: String)(doomed: => Boolean): Boolean =
    withBuildLock(path) {
      doomed && {
        deleteTree(java.nio.file.Paths.get(path + "_model"))
        prune(spark, path, keep = Set.empty)
        deleteTree(java.nio.file.Paths.get(path))
        graft.PlanCache.invalidate()
        true
      }
    }

  /** Paths of the stores directly under `root` whose names start with
    * `prefix` — their sidecars and lock directories excluded. */
  private[graft] def storesUnder(root: String, prefix: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(prefix) &&
        !f.getName.endsWith("_model") && !f.getName.contains("_lock"))
      .map(_.getPath).sorted.toSeq

  /** Delete everything under `path` except the directories in `keep`,
    * and drop the catalog tables of the deleted generations (their
    * names carry the generation nonce). Local-fs walk — the serving
    * warehouse is node-local by design. */
  private[graft] def prune(spark: SparkSession, path: String, keep: Set[String]): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(root)) return
    val keepNames = keep.map(p => java.nio.file.Paths.get(p).getFileName.toString)
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    list(root).filterNot(p => keepNames.contains(p.getFileName.toString)).foreach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("gen_"))
        catalog.listTables("default", s"graft_*_${nonce(name)}_*")
          .foreach(catalog.dropTable(_, ignoreIfNotExists = true, purge = false))
      deleteTree(p)
    }
  }

  /** Entries of a directory; the stream is closed eagerly (each
    * Files.list holds a directory fd). */
  private def list(dir: java.nio.file.Path): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      val all = try s.iterator().asScala.toList finally s.close()
      all.reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
    }
}
