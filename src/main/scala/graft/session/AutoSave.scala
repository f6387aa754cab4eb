package graft.session

/** Debounced auto-save policy (`crates/tss-persistence/src/autosave/config.rs`).
  *
  * Two clocks race: a save fires once the study has been quiet for
  * `debounceMs` (each new change resets that timer), or unconditionally
  * once `maxDelayMs` has elapsed since the first unsaved change — so a
  * continuous edit stream can't postpone persistence forever.
  */
case class AutoSaveConfig(
    enabled: Boolean = true,
    debounceMs: Long = 2000L,
    maxDelayMs: Long = 30000L) {

  def shouldSave(sinceLastChangeMs: Long, sinceFirstUnsavedMs: Long): Boolean =
    enabled &&
      (sinceLastChangeMs >= debounceMs || sinceFirstUnsavedMs >= maxDelayMs)
}

object AutoSaveConfig {
  def disabled: AutoSaveConfig = AutoSaveConfig(enabled = false)
}

/** Unsaved-change tracking for debounced auto-save and a dirty indicator
  * (`crates/tss-persistence/src/autosave/tracker.rs`). Driver-side session
  * state, deliberately tiny and Spark-free.
  *
  * The clock is injected (milliseconds, monotonic preferred) so policy
  * decisions are unit-testable without sleeping; production callers use
  * the default `System.nanoTime`-based clock.
  */
final class DirtyTracker(clock: () => Long = DirtyTracker.monotonicMs) {
  // a poller thread typically drives shouldAutoSave while the session
  // thread mutates — every access synchronizes on `this` for visibility
  private var dirty = false
  private var saving = false
  private var lastChange: Option[Long] = None
  private var firstUnsavedChange: Option[Long] = None
  // edits are counted so a markDirty landing WHILE a save is serializing
  // (and therefore not captured by it) survives that save's completion
  private var changeSeq = 0L
  private var savedSeq = 0L

  def isDirty: Boolean = synchronized(dirty)
  def isSaving: Boolean = synchronized(saving)

  /** Record a mutation. The first change since the last successful save
    * also anchors the max-delay clock. */
  def markDirty(): Unit = synchronized {
    val now = clock()
    dirty = true
    changeSeq += 1
    lastChange = Some(now)
    if (firstUnsavedChange.isEmpty) firstUnsavedChange = Some(now)
  }

  /** Snapshot serialization begins: changes up to this point will be in
    * the file; later ones must stay dirty past saveComplete(). */
  def startSave(): Unit = synchronized {
    saving = true
    savedSeq = changeSeq
  }

  def saveComplete(): Unit = synchronized {
    saving = false
    if (changeSeq == savedSeq) {
      dirty = false
      firstUnsavedChange = None
    }
    // else: an edit raced the save and is NOT in the file — keep dirty (and
    // the existing max-delay anchor, conservatively early) so the next
    // auto-save tick persists it
  }

  /** A failed save stays dirty so the next tick retries. */
  def saveFailed(): Unit = synchronized { saving = false }

  def msSinceFirstUnsaved: Option[Long] =
    synchronized(firstUnsavedChange.map(clock() - _))

  /** One auto-save tick: true when the policy says persist now. Never true
    * while a save is already in flight. */
  def shouldAutoSave(config: AutoSaveConfig): Boolean = synchronized {
    dirty && !saving && config.enabled &&
      ((lastChange, firstUnsavedChange) match {
        case (Some(l), Some(f)) =>
          val now = clock(); config.shouldSave(now - l, now - f)
        case _ => false
      })
  }

  /** Atomic shouldAutoSave-then-startSave: with separate calls two
    * concurrent tickers could both see "due" and both begin serializing;
    * under one lock exactly one caller wins. */
  def tryStartSave(config: AutoSaveConfig): Boolean = synchronized {
    if (shouldAutoSave(config)) { startSave(); true } else false
  }
}

object DirtyTracker {
  /** Wall-clock-independent millisecond clock. */
  val monotonicMs: () => Long = () => System.nanoTime() / 1000000L
}
