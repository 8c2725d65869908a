package graft

import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalatest.funsuite.AnyFunSuite

/** The compiled CEP machine (PatternMachine) vs two independent
  * formulations, over arbitrary event-type sequences — independent of
  * the fixture, so the streaming/batch agreement the oracle grades
  * can't be an artifact of the data:
  *
  *  1. the ORIGINAL brute segment semantics (q_window_pattern's r14
  *     SQL): for pattern v→p, a 'p' matches iff some 'v' shares its
  *     segment — pins the generalized compile to the old machine;
  *  2. the REGEX formulation the DuckDB oracle now runs
  *     (PatternMachine.oracleRegex): non-overlapping leftmost-shortest
  *     matches of the lazy-quantifier pattern over the concatenated
  *     initials — java.util.regex here, RE2 in DuckDB, but for these
  *     patterns (literal chars, negated classes, lazy stars) the two
  *     engines' leftmost-shortest semantics coincide.
  *
  * Plus the split-anywhere composition property the micro-batch
  * replay relies on, for EVERY graded pattern.
  */
class PatternMachineSpec extends AnyFunSuite {

  private def check(name: String, prop: Prop): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, s"$name: $res")
  }

  private def bruteMatches(ts: Seq[String]): Long = {
    val boundary = Set("e", "s", "p")
    val seg = ts.scanLeft(0L)((acc, t) =>
      if (boundary(t)) acc + 1 else acc).init // seg(i): boundaries before i
    val vSegs = ts.zip(seg).collect { case ("v", g) => g }.toSet
    ts.zip(seg).count { case (t, g) => t == "p" && vSegs(g) }.toLong
  }

  /** The oracle's count, verbatim: non-overlapping leftmost-shortest
    * regex matches over the concatenated initials. */
  private def regexMatches(ts: Seq[String], pattern: Seq[String]): Long = {
    val re = PatternMachine.oracleRegex(pattern)
    val m = java.util.regex.Pattern.compile(re).matcher(ts.mkString)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  private def machine(ts: Seq[String], pattern: Seq[String]): Long =
    PatternMachine.compile(pattern).runT((0L, 0L, 0L), ts.map((_, 0L)))._2

  private val eventGen: Gen[String] =
    Gen.frequency(4 -> "v", 3 -> "c", 2 -> "p", 1 -> "e", 1 -> "s", 1 -> "x")
  private val seqGen: Gen[List[String]] =
    Gen.chooseNum(0, 200).flatMap(n => Gen.listOfN(n, eventGen))
  /** Random patterns: 1-4 non-boundary steps, optionally 'p'-closed. */
  private val patternGen: Gen[List[String]] = for {
    n <- Gen.chooseNum(1, 4)
    body <- Gen.listOfN(n, Gen.oneOf("v", "c", "x"))
    closeP <- Gen.oneOf(true, false)
  } yield if (closeP) body :+ "p" else body

  test("compile(v,p) equals the r14 hard-coded machine and its brute semantics") {
    check("vp-equals-brute", Prop.forAll(seqGen) { ts =>
      machine(ts, Seq("v", "p")) == bruteMatches(ts)
    })
  }

  test("machine count equals the oracle's regex count, arbitrary patterns") {
    check("machine-equals-regex", Prop.forAll(seqGen, patternGen) {
      (ts, pat) => machine(ts, pat) == regexMatches(ts, pat)
    })
  }

  test("CONTIGUOUS machine equals the literal regex scan, arbitrary patterns") {
    // the KMP automaton with non-overlapping reset vs java.util.regex's
    // non-overlapping leftmost literal scan — the independent
    // formulation the DuckDB arm runs. Patterns include repeated
    // elements (self-overlapping borders), the case a naive
    // restart-at-current machine gets wrong.
    check("contig-equals-regex", Prop.forAll(seqGen, patternGen) {
      (ts, pat) =>
        val c = PatternMachine.compile(pat, contiguous = true)
        val m = java.util.regex.Pattern.compile(
          PatternMachine.oracleRegexOf(c)).matcher(ts.mkString)
        var n = 0L
        while (m.find()) n += 1
        c.runT((0L, 0L, 0L), ts.map((_, 0L)))._2 == n
    })
  }

  /** Random quantified patterns: 1-3 blocks of non-boundary chars —
    * single initials or ALTERNATION classes ("vc", "cx", "vcx") — with
    * random {min,max} bounds (incl. optional min=0 and unbounded max),
    * at least one block required so the empty match is never generated.
    * A BOUNDARY-containing {1,1} final class ("p", "vp", "cp") is
    * appended ~1/3 of the time (r17 ADVICE: the boundary-in-final-class
    * interaction vva_alt ships with must be property-pinned, not only
    * vignette-pinned; the regex side stays segment-consistent because a
    * boundary char can only ever be a match's LAST char). */
  private val quantPatternGen: Gen[List[PatternMachine.Block]] = {
    val blockGen: Gen[PatternMachine.Block] = for {
      ch <- Gen.frequency(4 -> Gen.oneOf("v", "c", "x"),
        2 -> Gen.oneOf("vc", "cx", "vx", "vcx"))
      min <- Gen.chooseNum(0, 3)
      max <- Gen.oneOf(Gen.const(None),
        Gen.chooseNum(math.max(min, 1), min + 3).map(Some(_)))
    } yield PatternMachine.Block(ch, min, max)
    val bodyGen = Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, blockGen))
      .retryUntil(_.exists(_.min > 0))
    for {
      body <- bodyGen
      bfinal <- Gen.frequency(2 -> Gen.const(None),
        1 -> Gen.oneOf("p", "vp", "cp")
          .map(ch => Some(PatternMachine.Block(ch, 1, Some(1)))))
    } yield body ++ bfinal.toList
  }

  test("QUANTIFIED contiguous machine equals the lazy-regex scan, arbitrary patterns") {
    // the subset-constructed DFA's earliest-accept non-overlapping scan
    // vs java.util.regex's non-overlapping leftmost-shortest scan of
    // the same pattern with lazy quantifiers — the independent
    // formulation the DuckDB arm runs (RE2 and java.util.regex agree
    // on this restricted class: literal chars + lazy repetition)
    check("quant-equals-regex", Prop.forAll(seqGen, quantPatternGen) {
      (ts, blocks) =>
        val c = PatternMachine.compileQuantified(blocks)
        val m = java.util.regex.Pattern.compile(
          PatternMachine.oracleRegexOf(c)).matcher(ts.mkString)
        var n = 0L
        while (m.find()) n += 1
        c.runT((0L, 0L, 0L), ts.map((_, 0L)))._2 == n
    })
  }

  test("a {1,1}-quantified pattern equals the literal contiguous machine") {
    // the literal tier is the quantified tier's special case: both
    // compile entry points must give the same machine, whose all-{1,1}
    // subset DFA counts like the KMP automaton on every sequence
    check("quant-specializes-to-literal", Prop.forAll(seqGen, patternGen) {
      (ts, pat) =>
        val lit = PatternMachine.compile(pat, contiguous = true)
        val q = PatternMachine.compileQuantified(
          pat.map(PatternMachine.Block(_, 1, Some(1))))
        q.runT((0L, 0L, 0L), ts.map((_, 0L)))._2 ==
          lit.runT((0L, 0L, 0L), ts.map((_, 0L)))._2
    })
  }

  test("quantified vignettes (vvc_q: v{2,}c)") {
    val c = PatternMachine.GradedAll.collectFirst {
      case ("vvc_q", m) => m }.get
    def n(ts: String): Long =
      c.runT((0L, 0L, 0L), ts.map(ch => (ch.toString, 0L)))._2
    assert(n("vvc") === 1L)     // exactly the minimum
    assert(n("vvvvc") === 1L)   // the run absorbs into ONE match
    assert(n("vc") === 0L)      // one view is not enough
    assert(n("vvxc") === 0L)    // adjacency is strict
    assert(n("vvcvvc") === 2L)  // non-overlapping repeats
    assert(n("vvcvc") === 1L)   // the second group lacks a view
    assert(n("vvecc") === 0L)   // boundary breaks the run like any char
    // bounded quantifier: v{1,2}c completes on the SHORTEST expansion
    val b = PatternMachine.compileQuantified(Seq(
      PatternMachine.Block("v", 1, Some(2)), PatternMachine.Block("c", 1, Some(1))))
    def nb(ts: String): Long =
      b.runT((0L, 0L, 0L), ts.map(ch => (ch.toString, 0L)))._2
    assert(nb("vc") === 1L)
    assert(nb("vvc") === 1L)
    assert(nb("vvvc") === 1L)   // v{1,2} can't span 3 v's; match = (v@1,v@2,c)
    assert(nb("vcvvc") === 2L)
    // optional mid-block: a c{0,1} bridge
    val o = PatternMachine.compileQuantified(Seq(
      PatternMachine.Block("v", 1, Some(1)), PatternMachine.Block("c", 0, Some(1)),
      PatternMachine.Block("v", 1, Some(1))))
    def no(ts: String): Long =
      o.runT((0L, 0L, 0L), ts.map(ch => (ch.toString, 0L)))._2
    assert(no("vv") === 1L)
    assert(no("vcv") === 1L)
    assert(no("vccv") === 0L)
    assert(no("vvv") === 1L)    // earliest end at v@1; v@2 alone can't re-match
  }

  test("alternation vignettes (vva_alt: v{2}[cp])") {
    val c = PatternMachine.GradedAll.collectFirst {
      case ("vva_alt", m) => m }.get
    def n(ts: String): Long =
      c.runT((0L, 0L, 0L), ts.map(ch => (ch.toString, 0L)))._2
    assert(n("vvc") === 1L)     // class matches the click...
    assert(n("vvp") === 1L)     // ...and the purchase (a boundary type)
    assert(n("vvx") === 0L)     // anything else, no
    assert(n("vvvp") === 1L)    // earliest accept uses v@1,v@2
    assert(n("vvcvvp") === 2L)  // both class members, non-overlapping
    assert(n("vvpvvc") === 2L)  // boundary completion closes its segment
    assert(n("vpvc") === 0L)    // one view is never enough
    // boundary p inside the final class completes instantly — progress
    // never survives a segment close (the compile-rule's contract)
    assert(n("vvpp") === 1L)
  }

  test("quantified compiler rejections") {
    import PatternMachine.Block
    // empty-match pattern
    assertThrows[IllegalArgumentException](PatternMachine.compileQuantified(
      Seq(Block("v", 0, Some(1)))))
    // mid-pattern boundary block
    assertThrows[IllegalArgumentException](PatternMachine.compileQuantified(
      Seq(Block("p", 1, Some(1)), Block("v", 1, Some(1)))))
    // boundary-typed final block with min > 1 could never complete
    assertThrows[IllegalArgumentException](PatternMachine.compileQuantified(
      Seq(Block("v", 1, Some(1)), Block("p", 2, Some(2)))))
    // max < min
    assertThrows[IllegalArgumentException](PatternMachine.compileQuantified(
      Seq(Block("v", 3, Some(2)))))
    // a boundary type hiding inside a NON-final alternation class
    assertThrows[IllegalArgumentException](PatternMachine.compileQuantified(
      Seq(Block("vp", 1, Some(1)), Block("c", 1, Some(1)))))
    // a boundary-containing final CLASS with min > 1 (progress through
    // the boundary member could never survive the segment close)
    assertThrows[IllegalArgumentException](PatternMachine.compileQuantified(
      Seq(Block("v", 1, Some(1)), Block("cp", 2, Some(2)))))
    // empty class
    assertThrows[IllegalArgumentException](PatternMachine.compileQuantified(
      Seq(Block("", 1, Some(1)))))
  }

  test("contiguous vignettes (KMP border fallback, non-overlapping reset)") {
    def n(pat: Seq[String], ts: String): Long =
      PatternMachine.compile(pat, contiguous = true)
        .runT((0L, 0L, 0L), ts.map(ch => (ch.toString, 0L)))._2
    // the border case: naive restart after 'vv' mismatch at 'v' would
    // lose the carried progress and miss the match one step later
    assert(n(Seq("v", "v", "c"), "vvvc") === 1L)
    // non-overlapping: 'vvv' holds ONE 'vv', 'vvvv' holds two
    assert(n(Seq("v", "v"), "vvv") === 1L)
    assert(n(Seq("v", "v"), "vvvv") === 2L)
    // adjacency is strict: anything between breaks the match
    assert(n(Seq("v", "v"), "vcv") === 0L)
    assert(n(Seq("v", "c"), "vxc") === 0L)
    // a boundary-final pattern still completes contiguously
    assert(n(Seq("v", "p"), "vp") === 1L)
    // subsequence 'vp' would match here; contiguity must not
    assert(n(Seq("v", "p"), "vcp") === 0L)
  }

  /** Timestamped sequences for the WINDOWED machine: inter-event gaps
    * drawn around the graded 30-minute span so both sides (within /
    * exceeded) occur; occasional zero gaps exercise timestamp ties. */
  private val timedSeqGen: Gen[List[(String, Long)]] = for {
    ts <- seqGen
    gaps <- Gen.listOfN(ts.length,
      Gen.frequency(1 -> Gen.const(0L),
        5 -> Gen.chooseNum(1L, PatternMachine.WindowSpanUs * 2)))
  } yield ts.zip(gaps.scanLeft(1000000L)(_ + _))

  test("the fold composes across arbitrary batch boundaries, every graded machine") {
    // split-anywhere: running the machine over slices in order,
    // threading state, equals one pass — the exact property the
    // micro-batch replay relies on; the 3-long state must carry the
    // windowed machine's in-flight first timestamp across the cut too
    check("split-anywhere", Prop.forAll(timedSeqGen, Gen.chooseNum(0, 200)) {
      (evs, cut) =>
        val (a, b) = evs.splitAt(cut min evs.length)
        PatternMachine.GradedAll.forall { case (_, c) =>
          c.runT(c.runT((0L, 0L, 0L), a), b) == c.runT((0L, 0L, 0L), evs)
        }
    })
  }

  /** INDEPENDENT windowed reformulation (r16 ADVICE: the DuckDB replay
    * arm and the fuzz tool's Python machine are direct ports of stepT,
    * so they validate translation, not semantics). This one is derived
    * from the DIALECT-TIER PROSE, not from the fold's state arithmetic:
    * an explicit O(n²) enumeration of attempts —
    *   split events into segments (a boundary event is the last,
    *   participating, event of its segment); within a segment,
    *   repeatedly take the EARLIEST occurrence of the first element at
    *   or after the scan position as the attempt's start, then walk
    *   forward matching each next needed element in order while every
    *   arriving event is within `span` of the attempt's first event;
    *   a completion counts and scanning resumes AFTER the completing
    *   event; an arriving event beyond the span kills the attempt
    *   before participating and scanning resumes AT that event (it may
    *   itself start the next attempt); a partial still alive at
    *   segment end simply dies (non-backtracking: no other start in
    *   the segment is ever revisited). */
  private def bruteWindowed(steps: Seq[String], span: Long,
      evs: Seq[(String, Long)]): Long = {
    val boundary = PatternMachine.Boundary
    val m = steps.length
    val segs = {
      val out = scala.collection.mutable.ArrayBuffer[Vector[(String, Long)]]()
      var cur = Vector.empty[(String, Long)]
      evs.foreach { e =>
        cur :+= e
        if (boundary(e._1)) { out += cur; cur = Vector.empty }
      }
      out += cur
      out.toSeq
    }
    segs.map { seg =>
      var pos = 0
      var n = 0L
      var done = false
      while (!done && pos < seg.length) {
        seg.indexWhere(_._1 == steps(0), pos) match {
          case -1 => done = true
          case a =>
            val first = seg(a)._2
            var k = 1
            var j = a + 1
            var completed = m == 1
            var expired = false
            while (!completed && !expired && j < seg.length) {
              if (seg(j)._2 - first > span) expired = true
              else {
                if (seg(j)._1 == steps(k)) {
                  k += 1
                  if (k == m) completed = true
                }
                j += 1
              }
            }
            if (completed) { n += 1; pos = if (m == 1) a + 1 else j }
            else if (expired) pos = j
            else done = true // partial alive at segment end: attempt dies
        }
      }
      n
    }.sum
  }

  test("the windowed fold equals the prose-derived O(n^2) attempt enumeration") {
    check("windowed-equals-brute", Prop.forAll(timedSeqGen,
      Gen.oneOf(Seq("v", "p"), Seq("v", "c", "p"), Seq("c", "v")),
      Gen.oneOf(PatternMachine.WindowSpanUs, PatternMachine.WindowSpanUs / 7, 1L)) {
      (evs, pat, span) =>
        val c = PatternMachine.compile(pat, maxSpanUs = Some(span))
        c.runT((0L, 0L, 0L), evs)._2 == bruteWindowed(pat, span, evs)
    })
  }

  /** INDEPENDENT windowed-QUANTIFIED reformulation (r18): like
    * [[bruteWindowed]], derived from the dialect-tier prose, not from
    * the fold/DFA — attempts are tracked as a set of (block index,
    * count-in-block) DP states over the BLOCKS themselves (closing a
    * block needs count ≥ min; min-0 blocks may be skipped; an
    * unbounded max never saturates), a representation deliberately
    * different from the positional NFA/subset-DFA the machine
    * compiles. Scan rules from the prose: the machine goes ACTIVE on
    * the first event that starts any attempt (its time is the span
    * anchor); while active, every event may also start a NEW attempt
    * but the anchor never moves (leftmost attempt); an event arriving
    * past the span kills ALL attempts before participating and may
    * itself re-start; ANY accepting attempt counts at its earliest
    * completion and resets everything (non-overlapping); a boundary
    * event participates, then closes the segment. */
  private def bruteWindowedQuant(blocks: Seq[PatternMachine.Block],
      span: Long, evs: Seq[(String, Long)]): Long = {
    val boundary = PatternMachine.Boundary
    val nB = blocks.length
    def maxOf(bi: Int): Int = blocks(bi).max.getOrElse(Int.MaxValue)
    // consume one char from DP state (bi, cnt): stay in the current
    // block if it has room, or close it (cnt ≥ min) and consume into a
    // later block, skipping only min-0 blocks
    def consume(st: (Int, Int), ch: String): Set[(Int, Int)] = {
      val (bi, cnt) = st
      val out = scala.collection.mutable.Set[(Int, Int)]()
      if (bi < nB && cnt < maxOf(bi) && blocks(bi).ch.contains(ch))
        out += ((bi, cnt + 1))
      if (bi < nB && cnt >= blocks(bi).min) {
        var j = bi + 1
        var cont = true
        while (cont && j < nB) {
          if (blocks(j).ch.contains(ch) && maxOf(j) > 0) out += ((j, 1))
          cont = blocks(j).min == 0
          j += 1
        }
      }
      out.toSet
    }
    def accepts(st: (Int, Int)): Boolean =
      st._2 >= blocks(st._1).min &&
        (st._1 + 1 until nB).forall(blocks(_).min == 0)
    val segs = {
      val out = scala.collection.mutable.ArrayBuffer[Vector[(String, Long)]]()
      var cur = Vector.empty[(String, Long)]
      evs.foreach { e =>
        cur :+= e
        if (boundary(e._1)) { out += cur; cur = Vector.empty }
      }
      out += cur
      out.toSeq
    }
    segs.map { seg =>
      var n = 0L
      var anchor = -1L // active attempt-set's first event time; -1 = idle
      var states = Set.empty[(Int, Int)]
      seg.foreach { case (ch, tsu) =>
        if (anchor >= 0 && tsu - anchor > span) { // expire BEFORE the event
          anchor = -1L; states = Set.empty
        }
        val next = (states + ((0, 0))).flatMap(consume(_, ch))
        if (next.exists(accepts)) { n += 1; anchor = -1L; states = Set.empty }
        else if (next.isEmpty) { anchor = -1L; states = Set.empty }
        else { if (anchor < 0) anchor = tsu; states = next }
      }
      n
    }.sum
  }

  test("the windowed-QUANTIFIED fold equals the prose-derived block-DP enumeration") {
    check("windowed-quant-equals-brute", Prop.forAll(timedSeqGen, quantPatternGen,
      Gen.oneOf(PatternMachine.WindowSpanUs, PatternMachine.WindowSpanUs / 7, 1L)) {
      (evs, blocks, span) =>
        val c = PatternMachine.compileQuantified(blocks, maxSpanUs = Some(span))
        c.runT((0L, 0L, 0L), evs)._2 == bruteWindowedQuant(blocks, span, evs)
    })
  }

  test("an effectively-infinite span reduces the windowed-quantified machine to the time-free one") {
    check("quant-infinite-span", Prop.forAll(timedSeqGen, quantPatternGen) {
      (evs, blocks) =>
        val w = PatternMachine.compileQuantified(blocks,
          maxSpanUs = Some(Long.MaxValue / 2))
        val tf = PatternMachine.compileQuantified(blocks)
        w.runT((0L, 0L, 0L), evs)._2 == tf.runT((0L, 0L, 0L), evs)._2
    })
  }

  test("the windowed-quantified count never exceeds the time-free quantified count") {
    check("windowed-quant-bounded", Prop.forAll(timedSeqGen, quantPatternGen,
      Gen.chooseNum(1L, PatternMachine.WindowSpanUs * 2)) {
      (evs, blocks, span) =>
        val w = PatternMachine.compileQuantified(blocks, maxSpanUs = Some(span))
        val tf = PatternMachine.compileQuantified(blocks)
        w.runT((0L, 0L, 0L), evs)._2 <= tf.runT((0L, 0L, 0L), evs)._2
    })
  }

  test("windowed-quantified vignettes (vvc_qw: v{2,}c within 24h)") {
    val c = PatternMachine.GradedAll.collectFirst {
      case ("vvc_qw", m) => m }.get
    val span = PatternMachine.QuantWindowSpanUs
    def n(evs: (String, Long)*): Long = c.runT((0L, 0L, 0L), evs)._2
    // two adjacent views then click, inside the span
    assert(n(("v", 0L), ("v", 1L), ("c", 2L)) === 1L)
    // exactly at the span boundary still counts
    assert(n(("v", 0L), ("v", 1L), ("c", span)) === 1L)
    // one microsecond past: the partial expires before c participates
    assert(n(("v", 0L), ("v", 1L), ("c", span + 1)) === 0L)
    // a longer view run absorbs into ONE match (v{2,} is lazy/earliest)
    assert(n(("v", 0L), ("v", 1L), ("v", 2L), ("c", 3L)) === 1L)
    // adjacency is strict: an interloper breaks the run
    assert(n(("v", 0L), ("x", 1L), ("v", 2L), ("c", 3L)) === 0L)
    // one view is never enough
    assert(n(("v", 0L), ("c", 1L)) === 0L)
    // expiry restarts at the current event: the late v pair completes
    assert(n(("v", 0L), ("v", span + 1), ("v", span + 2), ("c", span + 3)) === 1L)
    // NON-BACKTRACKING (the disclosed undercount): the leftmost anchor
    // expires the whole subset, including the still-viable later pair
    assert(n(("v", 0L), ("v", 1L), ("v", span - 1), ("v", span),
      ("c", span + 2)) === 0L)
    // boundary semantics unchanged: a boundary event closes the segment
    // (and, being a non-pattern char, breaks adjacency anyway)
    assert(n(("v", 0L), ("e", 1L), ("v", 2L), ("v", 3L), ("c", 4L)) === 1L)
    assert(n(("v", 0L), ("v", 1L), ("e", 2L), ("c", 3L)) === 0L)
    // two full matches, each within its own span
    assert(n(("v", 0L), ("v", 1L), ("c", 2L),
      ("v", span * 2), ("v", span * 2 + 1), ("c", span * 2 + 2)) === 2L)
  }

  test("an effectively-infinite span reduces the windowed machine to the time-free one") {
    val huge = PatternMachine.compile(Seq("v", "p"),
      maxSpanUs = Some(Long.MaxValue / 2))
    check("infinite-span", Prop.forAll(timedSeqGen) { evs =>
      huge.runT((0L, 0L, 0L), evs)._2 == machine(evs.map(_._1), Seq("v", "p"))
    })
  }

  test("windowed count never exceeds the unwindowed count") {
    val w = PatternMachine.GradedAll.collectFirst {
      case (_, c) if c.maxSpanUs.isDefined => c }.get
    check("windowed-bounded", Prop.forAll(timedSeqGen) { evs =>
      w.runT((0L, 0L, 0L), evs)._2 <= machine(evs.map(_._1), Seq("v", "p"))
    })
  }

  test("the micro-batch fold is invariant under any shuffle-arrival permutation") {
    // the spec-backed justification for the processor's per-batch
    // buffer (r15 verdict item 6): rows reach the processor through a
    // user_id shuffle whose read order is NOT a Spark contract, so the
    // processor sorts the batch by (tsu, event_id) before folding —
    // cepBatchFold's output must therefore be identical for EVERY
    // arrival order of the same rows, windowed machine included
    val rowGen: Gen[List[(Long, Long, Long, String)]] = for {
      evs <- timedSeqGen
      seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield {
      val rows = evs.zipWithIndex.map { case ((t, tsu), i) =>
        (7L, tsu, i.toLong, t) }
      new scala.util.Random(seed).shuffle(rows)
    }
    check("order-invariant", Prop.forAll(rowGen) { rows =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      PatternMachine.GradedAll.forall { case (_, c) =>
        StreamOps.cepBatchFold(c, (0L, 0L, 0L), rows) ==
          StreamOps.cepBatchFold(c, (0L, 0L, 0L), sorted)
      }
    })
  }

  // the batch artifact, pinned by EXECUTION for every dialect: the
  // generated aggregate() lambda runs through real Catalyst/codegen over
  // random timestamped sequences and must reproduce runT exactly — a bug
  // in the SQL string (IF-nesting, the 1-based element_at /
  // array_position indexing, quoting) would otherwise hide until the
  // driver grades fixture data that may not cover the diverging sequence.
  // One harness; the four tests below feed it one dialect each.
  private def checkSqlFold(machines: Seq[PatternMachine.Compiled],
      seed: Long): Unit = {
    val span = PatternMachine.WindowSpanUs
    val spark = TestSpark.spark
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(seed)
    val alphabet = Vector("v", "c", "p", "e", "s", "x")
    val seqs = (0 until 60).map { i =>
      var tsu = 1000000L
      (i.toLong, (0 until rnd.nextInt(120)).map { j =>
        tsu += (if (rnd.nextInt(6) == 0) 0L else rnd.nextLong(2 * span))
        (tsu, j.toLong, alphabet(rnd.nextInt(alphabet.size)))
      })
    }
    import org.apache.spark.sql.{types => st}
    val df = spark.createDataFrame(
      seqs.map { case (id, evs) => org.apache.spark.sql.Row(id,
        evs.map { case (tsu, eid, t) =>
          org.apache.spark.sql.Row(tsu, eid, t) }.toArray)
      }.asJava,
      st.StructType(Seq(
        st.StructField("id", st.LongType),
        st.StructField("evs", st.ArrayType(st.StructType(Seq(
          st.StructField("tsu", st.LongType),
          st.StructField("event_id", st.LongType),
          st.StructField("t", st.StringType))))))))
    val folded = df.select(org.apache.spark.sql.functions.col("id") +:
      machines.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.functions.expr(
          PatternMachine.sqlFold(c, "evs")).as(s"n_$i") }: _*)
    val got = folded.collect().map(r =>
      r.getLong(0) -> machines.indices.map(i => r.getLong(1 + i))).toMap
    seqs.foreach { case (id, evs) =>
      machines.zipWithIndex.foreach { case (c, i) =>
        val want = c.runT((0L, 0L, 0L), evs.map(e => (e._3, e._1)))._2
        assert(got(id)(i) === want,
          s"sqlFold diverged from machine: id=$id steps=${c.steps} " +
            s"contiguous=${c.contiguous} span=${c.maxSpanUs} " +
            s"seq=${evs.map(_._3).mkString} sql=${got(id)(i)} machine=$want")
      }
    }
  }

  private val vvOptC = Seq(PatternMachine.Block("v", 1, Some(2)),
    PatternMachine.Block("c", 1, Some(1)))
  private val vOptCv = Seq(PatternMachine.Block("v", 1, Some(1)),
    PatternMachine.Block("c", 0, Some(1)), PatternMachine.Block("v", 1, Some(1)))

  test("sqlFold (the batch query's executed artifact) equals the machine") {
    // time-free subsequence machines, plus every graded machine
    checkSqlFold((PatternMachine.Graded.map(_._2) ++
      Seq(Seq("v", "v", "p"), Seq("x", "c"), Seq("c", "x", "v", "p")))
      .map(PatternMachine.compile(_)) ++ PatternMachine.GradedAll.map(_._2),
      20260815L)
  }

  test("sqlFoldSpan (the windowed batch artifact) equals the machine") {
    // windowed subsequence machines (the dialect's former name)
    val span = PatternMachine.WindowSpanUs
    checkSqlFold(Seq(
      PatternMachine.compile(Seq("v", "p"), maxSpanUs = Some(span)),
      PatternMachine.compile(Seq("v", "c", "p"), maxSpanUs = Some(span)),
      PatternMachine.compile(Seq("c", "v"), maxSpanUs = Some(span / 7))),
      20260816L)
  }

  test("sqlFoldContig (the contiguous batch artifact) equals the machine") {
    // time-free contiguous literals and quantified machines: their
    // subset-DFA literals must survive Catalyst/codegen
    checkSqlFold(Seq(Seq("v", "v"), Seq("v", "v", "c"), Seq("c", "v"),
      Seq("v", "c", "v", "p")).map(PatternMachine.compile(_, contiguous = true)) ++
      Seq(PatternMachine.compileQuantified(vvOptC),
        PatternMachine.compileQuantified(vOptCv)),
      20260817L)
  }

  test("sqlFoldContigSpan (the windowed-quantified batch artifact) equals the machine") {
    // windowed quantified machines: the table plus the expiry and
    // first-timestamp terms
    val span = PatternMachine.WindowSpanUs
    checkSqlFold(Seq(
      PatternMachine.compileQuantified(vvOptC, maxSpanUs = Some(span / 7)),
      PatternMachine.compileQuantified(vOptCv, maxSpanUs = Some(span))),
      20260818L)
  }

  test("compiler rejects mid-pattern boundary types") {
    assertThrows[IllegalArgumentException](
      PatternMachine.compile(Seq("p", "v")))
    assertThrows[IllegalArgumentException](PatternMachine.compile(Nil))
    assertThrows[IllegalArgumentException](PatternMachine.compile(
      Seq("v", "p"), maxSpanUs = Some(1000L), contiguous = true))
  }

  test("known vignettes") {
    def n(ts: Seq[String]) = machine(ts, Seq("v", "p"))
    // v p → match; p v → no match (v lands after the boundary p);
    // v e p → no match (error closes the flagged segment);
    // v p v p → two matches; c/x never affect anything
    assert(n(Seq("v", "p")) === 1L)
    assert(n(Seq("p", "v")) === 0L)
    assert(n(Seq("v", "e", "p")) === 0L)
    assert(n(Seq("v", "p", "v", "p")) === 2L)
    assert(n(Seq("c", "v", "x", "c", "p")) === 1L)
    // 3-step funnel: a mid-pattern boundary kills partial progress
    assert(machine(Seq("v", "c", "p"), Seq("v", "c", "p")) === 1L)
    assert(machine(Seq("v", "e", "c", "p"), Seq("v", "c", "p")) === 0L)
    assert(machine(Seq("v", "c", "x", "v", "p"), Seq("v", "c", "p")) === 1L)
    // non-boundary-closed pattern matches repeatedly inside a segment
    assert(machine(Seq("c", "v", "c", "v"), Seq("c", "v")) === 2L)
    assert(machine(Seq("c", "s", "v"), Seq("c", "v")) === 0L)
  }

  test("windowed vignettes (expiry restarts at the current event; no backtracking)") {
    val span = PatternMachine.WindowSpanUs
    val w = PatternMachine.compile(Seq("v", "p"), maxSpanUs = Some(span))
    def n(evs: (String, Long)*): Long = w.runT((0L, 0L, 0L), evs)._2
    // within the span → match; exactly at the span → still a match
    assert(n(("v", 0L), ("p", span)) === 1L)
    // one microsecond past → the partial expires, p can't complete
    assert(n(("v", 0L), ("p", span + 1)) === 0L)
    // expiry happens BEFORE the event participates: a late 'v' starts
    // a fresh attempt that the next in-span 'p' completes
    assert(n(("v", 0L), ("v", span + 1), ("p", span + 2)) === 1L)
    // NON-BACKTRACKING: while a partial is alive, a later 'v' does not
    // replace its start — the machine keeps the leftmost attempt, so a
    // 'p' in range of the second 'v' but not the first matches nothing
    assert(n(("v", 0L), ("v", span / 2), ("p", span + 1)) === 0L)
    // boundary semantics are unchanged by the window
    assert(n(("v", 0L), ("e", 1L), ("p", 2L)) === 0L)
    // two full matches, each within its own span
    assert(n(("v", 0L), ("p", 1L), ("v", span * 2), ("p", span * 2 + 1)) === 2L)
  }
}
