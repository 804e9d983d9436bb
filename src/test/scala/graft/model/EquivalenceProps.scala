package graft.model

import graft.cdc.{CdcPipeline, ChangeEvent, MessageParser, TransferRecord}
import graft.classifier.{Interactions, SpineMessage}
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property-based engine ⇔ independent-model equivalence over RANDOM
  * message sequences — session shapes the seeded fixtures never produce:
  * dangling acks, reused guids (the Python dict re-put edge), third-party
  * and self-addressed messages, exact time ties, negative SLA, events past
  * the cutoff, redelivered commits, and conversations missing their start.
  * Any disagreement is a bug in one of the two transliterations.
  */
object EquivalenceProps extends Properties("ModelEquivalence") {

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    // pure-JVM and fast; buy the extra shapes. GRAFT_PROPS_N soaks deeper
    // (one-off campaign runs), default 400 keeps CI time bounded.
    p.withMinSuccessfulTests(sys.env.get("GRAFT_PROPS_N").map(_.toInt).getOrElse(400))

  private val day = 24L * 3600 * 1000000L
  private val t0 = 1577836800000000L // 2020-01-01T00:00Z

  private val asidPool = Vector("asid-A", "asid-B", "asid-C")
  private val errPool: Gen[Option[Int]] =
    Gen.oneOf(None, None, None, Some(12), Some(15), Some(99), Some(11), Some(19), Some(30))

  private final case class RawMsg(
      kind: Int, // 0=start 1=ehr 2=ack 3=copc
      from: Int, to: Int, // asid pool indices
      dtMicros: Long, // offset from t0
      refChoice: Int, // ack ref: 0=some prior guid, 1=convId, 2=dangling, 3=None
      guidReuse: Boolean, // reuse a prior non-ack guid (dict re-put edge)
      err: Option[Int],
      tz: String,
  )

  private val rawMsgGen: Gen[RawMsg] = for {
    kind <- Gen.frequency(1 -> 0, 3 -> 1, 6 -> 2, 3 -> 3)
    from <- Gen.choose(0, 2)
    to <- Gen.choose(0, 2)
    // times cluster at exact ties (multiples of a minute) with occasional
    // sub-second jitter and a tail reaching past any cutoff
    base <- Gen.frequency(
      6 -> Gen.choose(0L, 30L).map(_ * 60L * 1000000L),
      2 -> Gen.choose(0L, 3L * day),
      1 -> Gen.choose(8L * day, 20L * day))
    jitter <- Gen.frequency(3 -> Gen.const(0L), 1 -> Gen.choose(0L, 999999L))
    refChoice <- Gen.choose(0, 3)
    guidReuse <- Gen.frequency(9 -> false, 1 -> true)
    err <- errPool
    tz <- Gen.oneOf("UTC", "BST")
  } yield RawMsg(kind, from, to, base + jitter, refChoice, guidReuse, err, tz)

  private final case class Case(
      startFirst: Boolean, raw: List[RawMsg], cutoff: Long,
      redeliverMask: Long, shuffleSeed: Long)

  private val caseGen: Gen[Case] = for {
    startFirst <- Gen.frequency(9 -> true, 1 -> false)
    n <- Gen.choose(0, 22)
    raw <- Gen.listOfN(n, rawMsgGen)
    cutoff <- Gen.oneOf(0L, 14L * day, 2L * day, 9L * day)
    mask <- Gen.long
    seed <- Gen.long
  } yield Case(startFirst, raw, cutoff, mask, seed)

  /** Materialize a case into change events: deterministic guids (with the
    * occasional reuse), acks referencing earlier guids / the conv id /
    * nothing / a guid that never exists, unique commits per logical
    * message, and mask-selected redelivered copies at later offsets.
    */
  private def eventsOf(c: Case): Vector[ChangeEvent] = {
    val convId = "repo-rnd"
    val interactions = Vector(Interactions.EhrRequestStarted,
      Interactions.EhrRequestCompleted, Interactions.ApplicationAck,
      Interactions.CommonPointToPoint)
    var priorGuids = Vector.empty[String]
    val msgs = Vector.newBuilder[(SpineMessage, String)] // (message, tz)
    def record(m: SpineMessage, tz: String): Unit = {
      if (m.interactionId != Interactions.ApplicationAck) priorGuids :+= m.guid
      msgs += ((m, tz))
    }
    if (c.startFirst) {
      record(SpineMessage(t0, convId, convId, Interactions.EhrRequestStarted,
        asidPool(0), asidPool(1), None, None, Some("SysA"), Some("SysB")), "UTC")
    }
    c.raw.zipWithIndex.foreach { case (r, i) =>
      val guid =
        if (r.guidReuse && priorGuids.nonEmpty) priorGuids(i % priorGuids.size)
        else s"g$i"
      val ref =
        if (r.kind != 2) None
        else r.refChoice match {
          case 0 if priorGuids.nonEmpty => Some(priorGuids(i % priorGuids.size))
          case 1 => Some(convId)
          case 2 => Some(s"never-$i")
          case _ => None
        }
      record(SpineMessage(t0 + r.dtMicros, convId, guid, interactions(r.kind),
        asidPool(r.from), asidPool(r.to), ref, r.err,
        Some(s"Sys${r.from}"), Some(s"Sys${r.to}")), r.tz)
    }
    val base = msgs.result().zipWithIndex.map { case ((m, tz), i) =>
      ChangeEvent(repo = convId, path = s"p$i", commit = s"c$i", lang = "x",
        content = MessageParser.format(m, tz), offset = i.toLong, op = "insert",
        tsMicros = t0 + i * 1000L, epoch = i.toLong % 3)
    }
    val redelivered = base.zipWithIndex.collect {
      case (e, i) if ((c.redeliverMask >> (i % 64)) & 1L) == 1L =>
        e.copy(offset = e.offset + 1000L, epoch = 2)
    }
    new scala.util.Random(c.shuffleSeed).shuffle(base ++ redelivered)
  }

  private def toModelRec(t: TransferRecord): ReferenceModel.Rec =
    ReferenceModel.Rec(t.repo, t.conversationId, t.slaDurationSeconds,
      t.requestingPracticeAsid, t.sendingPracticeAsid, t.requestingSupplier,
      t.sendingSupplier, t.senderErrorCodes.toVector, t.finalErrorCodes.toVector,
      t.intermediateErrorCodes.toVector, t.status, t.failureReason,
      t.dateRequestedMicros, t.dateCompletedMicros,
      t.lastSenderMessageTimestampMicros, t.eventCount, t.minOffset, t.maxOffset)

  property("engine fold == independent model on arbitrary sessions") =
    forAll(caseGen) { c =>
      val events = eventsOf(c)
      val engine = CdcPipeline
        .classifyGroup("repo-rnd", events.iterator.map(_.slim), c.cutoff)
        .map(toModelRec)
      val model = ReferenceModel.classifyLog(events, c.cutoff).headOption
      if (engine != model)
        println(s"DIVERGENCE\n case: $c\n engine: $engine\n model:  $model")
      engine == model
    }

  /** The same sessions through the epoch fold: events of epochs 0 and 1 are
    * prior state (content kept, path/lang/op null as the engine reads them),
    * epoch-2 events are this epoch's raw batch. The generator's redelivered copies are epoch 2 at offset+1000,
    * so they never win dedup and exercise the emit-on-change gate.
    */
  property("epoch fold (applyGroup) == independent model on arbitrary sessions") =
    forAll(caseGen) { c =>
      val events = eventsOf(c)
      val applyEvents = events.map { e =>
        if (e.epoch < 2) e.copy(path = null, lang = null, op = null) else e
      }
      val outs = CdcPipeline.applyGroup("repo-rnd", applyEvents.iterator, c.cutoff,
        currentEpoch = 2L).toVector
      val winners = events.groupBy(_.commit).values.map(_.minBy(e => (e.offset, e.epoch)))
      val freshWinners = winners.filter(_.epoch == 2L).map(e => (e.commit, e.offset)).toSet
      val engine = outs.flatMap(_.transfer).map(toModelRec)
      val fresh = outs.flatMap(_.event).map(e => (e.commit, e.offset))
      val ok =
        if (freshWinners.isEmpty) outs.isEmpty
        else engine == ReferenceModel.classifyLog(events, c.cutoff) &&
          fresh.size == freshWinners.size && fresh.toSet == freshWinners
      if (!ok)
        println(s"DIVERGENCE (applyGroup)\n case: $c\n engine: $engine\n fresh: $fresh")
      ok
    }
}
