package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

/** The `__latest` pointer protocol's STORE SEAM: one GET (`read`) and
  * one CONDITIONAL PUT (`advance` — "install value N unless the current
  * value is >= N"). [[LatestPointer]] is the POSIX-filesystem binding
  * (the test/deploy-local one); [[EtagPointerStore]] is an
  * etag-conditional object-store binding whose conditional PUT is
  * atomic AT THE STORE — the exact primitive S3 (`PutObject` +
  * `If-Match`, retry on 412), GCS (generation-match precondition), and
  * ABFS (etag-conditional update) provide. Owners
  * ([[VersionedSnapshot]], [[BucketedState]]) take the binding as a
  * constructor seam, so the adversarial pointer spec runs its whole
  * failure matrix against BOTH bindings — including the one shape the
  * POSIX binding can only document (cross-process regression), which
  * the conditional binding REFUSES at the store. */
private[streaming] trait PointerStore {

  /** One GET: the pointer's version id, None when the object is
    * missing or its bytes don't parse (torn/corrupt — the reader's
    * degrade-to-LIST trigger). */
  def read(root: Path): Option[Long]

  /** Monotone conditional advance: install `batch` unless the current
    * value is already >= `batch`. Owners call it AFTER their version
    * commit point (manifest / _SUCCESS), so a crash between the two
    * leaves a stale pointer, which the replay re-advances. */
  def advance(root: Path, batch: Long): Unit
}

/** The `__latest` pointer-file protocol shared by [[BucketedState]]
  * (points at the newest manifest) and [[VersionedSnapshot]] (points at
  * the newest version dir): a tiny file holding one version id, written
  * to a temp name and ATOMIC_MOVEd (readers see old or new, never
  * partial), advanced MONOTONICALLY (a replayed batch never moves it
  * backwards). One GET replaces the directory LIST on the read path;
  * the LIST survives only as each owner's fallback for a missing,
  * unreadable, stale, or dangling pointer. Single-sourced here so a
  * protocol fix cannot silently miss one copy.
  *
  * == Object-store contract ==
  *
  * This POSIX implementation is the local-filesystem BINDING of the
  * [[PointerStore]] protocol, whose primitives map directly onto a real
  * object store — [[EtagPointerStore]] is that mapping as runnable
  * code, not prose:
  *
  *  - '''read''' = one GET of a small immutable-per-version object.
  *  - '''advance''' = a CONDITIONAL PUT: "install value N unless the
  *    current value is >= N". On S3 that is a `PutObject` with
  *    `If-Match` on the read etag (retry on 412); on GCS a
  *    generation-match precondition; on ABFS an etag-conditional
  *    update. Those primitives are ATOMIC at the store, so the
  *    cross-process monotonicity hole described below CLOSES on a real
  *    object store — the deployment this layer is shaped for is
  *    strictly stronger than the test binding (pinned by
  *    LatestPointerSpec's stale-etag interleaving). POSIX has no
  *    conditional rename, so here the condition is emulated by
  *    read-check-move under a per-pointer lock object keyed by the
  *    NORMALIZED absolute path (path aliases — relative, `..` — reach
  *    the same lock): atomic against every advancer IN THIS JVM (all
  *    of Structured Streaming's foreachBatch callers for all queries
  *    in a local session), best-effort against a second JVM.
  *
  * == Ownership: exactly one advancer per state root ==
  *
  * The protocol REQUIRES a single live advancer per state root. This
  * is not an extra assumption — it is Structured Streaming's own
  * execution model: a state root belongs to one streaming query, whose
  * driver executes foreachBatch bodies sequentially (batch N+1 never
  * starts before N's body returns), and a restarted query resumes the
  * SAME ownership from the checkpoint, it does not add a second owner.
  * Two live queries advancing one root is a deployment error of the
  * same class as two Spark queries sharing one checkpoint dir.
  *
  * == Failure shapes, and what each degrades to ==
  *
  * Readers treat the pointer as a HINT, gated by the owner's own
  * commit evidence — never as ground truth:
  *
  *  - '''torn / corrupt''' (crash mid-write without ATOMIC_MOVE, bit
  *    rot, garbage bytes): [[read]] returns None → directory-LIST
  *    fallback.
  *  - '''dangling''' (names a version whose manifest / `_SUCCESS` is
  *    missing — e.g. the sweep raced a crash): the owner's gate
  *    (`readManifest` existence in [[BucketedState]], `committed` in
  *    [[VersionedSnapshot]]) fails → LIST fallback over committed
  *    versions.
  *  - '''stale''' (crash between the version commit and [[advance]]):
  *    harmless by construction — the incomplete batch replays
  *    (foreachBatch commits the sink AFTER the body), its reads pin
  *    strictly below its own id (= the stale pointer's version), and
  *    the replay's commit re-advances the pointer.
  *  - '''ahead of the read's bound''' (a replay reading below its own
  *    id after the first attempt already advanced): the strict-below
  *    filter rejects the pointer → LIST fallback, which applies the
  *    same bound.
  *  - '''regressed to a SWEPT version''' (only a contract-violating
  *    second writer can produce this): the gate fails exactly like the
  *    dangling case → LIST fallback wins. Pinned adversarially by
  *    LatestPointerSpec.
  *  - '''regressed to a LIVE committed version''': undetectable
  *    without paying a LIST on every read, and the one reason the
  *    single-advancer rule is CONTRACT rather than advice. On a real
  *    object store the conditional PUT refuses the regression at the
  *    store — [[EtagPointerStore]] demonstrates exactly that — so this
  *    shape exists only on the POSIX binding under a rogue second JVM.
  *    LatestPointerSpec pins the behavior on both bindings so the
  *    trade is recorded, not latent.
  */
private[streaming] object LatestPointer extends PointerStore {

  def path(root: Path): Path = root.resolve("__latest")

  def read(root: Path): Option[Long] =
    if (!Files.exists(path(root))) None
    else scala.util.Try(
      new String(Files.readAllBytes(path(root)), "UTF-8").trim.toLong).toOption

  /** Per-pointer lock objects, keyed by normalized absolute path so
    * aliases of one root serialize on one monitor (and nothing else
    * ever contends on it — unlike an interned-string monitor). The map
    * grows by one small Object per state root this JVM ever advances —
    * bounded by live streaming queries, not by batches. */
  private val lockOf = new ConcurrentHashMap[String, Object]()

  /** Monotone conditional advance — the POSIX binding of the
    * conditional PUT (see the object-store contract above). */
  def advance(root: Path, batch: Long): Unit = {
    val key = path(root).toAbsolutePath.normalize.toString
    lockOf.computeIfAbsent(key, _ => new Object).synchronized {
      if (!read(root).exists(_ >= batch)) {
        Files.createDirectories(root)
        val tmp = root.resolve(".__latest.tmp")
        Files.write(tmp, batch.toString.getBytes("UTF-8"))
        Files.move(tmp, path(root), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
  }
}

/** Etag-conditional binding of [[PointerStore]] — the object-store
  * shape as runnable code. The store is an in-memory map of
  * `root → (etag, body)` whose ONLY mutation primitive is
  * [[putIf]], a compare-and-swap on the etag (atomic via the map's
  * `compute`, exactly as a real store's conditional PUT is atomic at
  * the service). [[advance]] is the lock-free loop every compliant
  * advancer runs against such a store:
  *
  *   1. GET → (etag, value)
  *   2. value >= N → done (someone newer already advanced)
  *   3. conditional PUT of N with If-Match etag (If-None-Match for a
  *      first write)
  *   4. precondition failed (412 — a concurrent advancer moved it) →
  *      re-read and retry from 1
  *
  * No lock, no JVM-wide anything: two advancers in DIFFERENT processes
  * interleaving read→check→put cannot regress the pointer, because the
  * loser's PUT carries a stale etag and the store refuses it — the
  * exact hole the POSIX binding documents as open. A corrupt (unparse-
  * able) body never wedges the loop: it reads as absent-value but its
  * etag still conditions the repair PUT.
  *
  * [[put]] (unconditional overwrite) exists because real stores have
  * it too — it is the rogue door the adversarial spec corrupts the
  * pointer through; compliant advancers never call it. */
private[streaming] final class EtagPointerStore extends PointerStore {

  private final case class Obj(etag: Long, body: String)
  private val objects = new ConcurrentHashMap[String, Obj]()

  private def key(root: Path): String = root.toAbsolutePath.normalize.toString

  /** GET: (etag, body), None when absent. */
  def get(root: Path): Option[(Long, String)] =
    Option(objects.get(key(root))).map(o => (o.etag, o.body))

  /** Conditional PUT: install `body` iff the current etag equals
    * `ifMatch` (None = If-None-Match: only if absent). Returns false on
    * precondition failure — the store-level 412. */
  def putIf(root: Path, body: String, ifMatch: Option[Long]): Boolean = {
    var ok = false
    objects.compute(key(root), (_, cur) => {
      if (Option(cur).map(_.etag) == ifMatch) {
        ok = true
        Obj(Option(cur).map(_.etag + 1).getOrElse(0L), body)
      } else cur
    })
    ok
  }

  /** Unconditional PUT — the bypass any real store also exposes; the
    * spec's rogue-writer door, never called by compliant advancers. */
  def put(root: Path, body: String): Unit = {
    objects.compute(key(root), (_, cur) =>
      Obj(Option(cur).map(_.etag + 1).getOrElse(0L), body)): Unit
  }

  def read(root: Path): Option[Long] =
    get(root).flatMap(o => scala.util.Try(o._2.trim.toLong).toOption)

  @annotation.tailrec
  def advance(root: Path, batch: Long): Unit = {
    val cur = get(root)
    val curValue = cur.flatMap(o => scala.util.Try(o._2.trim.toLong).toOption)
    if (curValue.exists(_ >= batch)) ()
    else if (putIf(root, batch.toString, cur.map(_._1))) ()
    else advance(root, batch) // 412: a concurrent advancer won — re-read
  }
}
