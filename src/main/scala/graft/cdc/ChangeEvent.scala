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

/** The fold's working row: exactly the fields the classify fold reads.
  * `path`/`lang`/`op` never cross the sessionize shuffle — on the
  * memory-bandwidth-bound classify path (BASELINE.md §2) every byte
  * shuffled per event is DRAM traffic on both sides of the exchange, and
  * the full apply path (which must persist whole events to state) pays
  * them only where it needs them.
  */
final case class SlimEvent(
    repo: String,
    commit: String,
    content: String,
    offset: Long,
    tsMicros: Long,
    epoch: Long,
) extends SessionEvent

/** The APPLY fold's working row: a full change event PLUS the optional
  * pre-parsed message. The state table persists every fresh event's parsed
  * form next to its raw content, so on every LATER epoch the prior-state
  * read supplies `parsed` and NEVER touches `content` — the column (the
  * dominant bytes of the table) is pruned at the parquet scan, is absent
  * from the sessionize shuffle, and the per-event re-parse disappears.
  * Content is only carried by this epoch's batch rows (`parsed == null`),
  * which are parsed exactly once, on their first apply.
  */
final case class ApplyEvent(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String, // null for prior-state rows read via `parsed`
    offset: Long,
    op: String,
    tsMicros: Long,
    epoch: Long,
    parsed: graft.classifier.SpineMessage, // null for raw batch rows
) extends SessionEvent
