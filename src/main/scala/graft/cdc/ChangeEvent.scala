package graft.cdc

/** The dedup/order key every per-session event row carries: `commit` is the
  * event id, `(offset, epoch)` decides which redelivered copy is first-seen,
  * `(tsMicros, offset)` orders the session. The session kernel
  * (`CdcPipeline.dedupSession`) reads only these four fields.
  */
trait SessionEvent {
  def commit: String
  def offset: Long
  def epoch: Long
  def tsMicros: Long
}

/** One change event of the binlog/WAL stream: a row-insert into the source
  * table of shape `(repo, path, commit, lang, content)` (the driver-mandated
  * input shape) plus the change-log envelope the tail adds.
  *
  * Re-keying (SURVEY.md §1.3): `repo` is the session key (reference
  * `conversationID`), `commit` the event id / dedup key (reference `GUID`),
  * `content` the payload whose sha256 is the per-row replay invariant.
  */
final case class ChangeEvent(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    // envelope (engine-internal, FIXTURES.md §1)
    offset: Long,
    op: String,
    tsMicros: Long,
    epoch: Long,
) extends SessionEvent {
  def slim: SlimEvent = SlimEvent(repo, commit, content, offset, tsMicros, epoch)
}

/** Batch `classify`'s working row: exactly the fields the classify fold
  * reads. `path`/`lang`/`op` never cross the sessionize shuffle — on the
  * memory-bandwidth-bound classify path (BASELINE.md §2) every byte
  * shuffled per event is DRAM traffic on both sides of the exchange. The
  * epoch fold keeps `ChangeEvent` rows (its fresh events persist whole to
  * state) but reads prior-state rows with those three as null literals.
  */
final case class SlimEvent(
    repo: String,
    commit: String,
    content: String,
    offset: Long,
    tsMicros: Long,
    epoch: Long,
) extends SessionEvent
