"""The movement protocol both WCC loops run, its two accept policies, and
the incremental batch's scope rule.

A refinement loop starts from a labeling, moves every vertex to its
best community in simultaneous passes (``community.best_movement``)
and asks a policy whether to keep each pass.  The rule is written once
here, over plain values: ``protocol`` takes the labeling and three
callbacks, so the small-state tier's task runs it over numpy arrays
(``task_tier.rounds``) and the Spark loop over landed labelings and
their caches (``refinement.movement_rounds``).  The policies are
pure rules over WCC floats, and the scope rule over counts; they hold
no DataFrame, so a task can run a pickled copy.
"""

from __future__ import annotations

from dataclasses import dataclass


class AcceptIfImproved:
    """Batch accept policy (``DistributedWCC.scala:258-329``): a round
    is kept iff it improves global WCC; every evaluated round spends a
    retry, and a relative gain > ``threshold`` refills the budget.

    ``wcc`` is the kept labeling's global WCC.  ``history``, if given,
    receives it for the input labeling and for every kept round.
    """

    evaluates = True  # the rule reads each round's global WCC

    def __init__(self, max_retries, threshold, history=None):
        self.max_retries, self.threshold = max_retries, threshold
        self.retries = max_retries
        self.history = [] if history is None else history
        self.wcc = 0.0

    def more(self, rounds: int) -> bool:
        return self.retries > 0

    def start(self, wcc: float) -> None:
        """The input labeling's WCC."""
        self.wcc = wcc
        self.history.append(wcc)

    def keep(self, wcc: float) -> bool:
        """Spend a retry on a round of WCC ``wcc``; True iff it is kept."""
        self.retries -= 1
        if not wcc > self.wcc:
            return False
        # Scala's newWcc/bestWcc - 1 > threshold is Infinity > 0.01
        # when bestWcc == 0, so an improvement from 0 also resets the
        # retry budget (DistributedWCC.scala:309-312).
        if self.wcc <= 0 or (wcc / self.wcc - 1.0) > self.threshold:
            self.retries = self.max_retries
        self.wcc = wcc
        self.history.append(wcc)
        return True


@dataclass(frozen=True)
class FixedRounds:
    """Incremental accept policy (``IncrementalWCC.scala:332-393``):
    every round is kept, at most ``cap`` of them, no WCC test.  The
    reference runs the rounds after a fixed point as identity passes;
    the protocol's 0-move stop skips them."""

    cap: int
    evaluates = False

    def more(self, rounds: int) -> bool:
        return rounds < self.cap

    def start(self, wcc) -> None:
        pass

    def keep(self, wcc) -> bool:
        return True


@dataclass(frozen=True)
class ScopeRule:
    """Which scope an incremental batch's rounds run over
    (``incremental._pick_scope``): the batch neighborhood V_R only when
    the clean members of the affected communities, and then V_R, are at
    most ``fraction`` of the clean vertices; otherwise the whole graph.
    A pure rule over counts, like the policies above, so the Spark
    tail and the small-state task run one copy."""

    fraction: float

    def scoped(self, n_affected: int, n_clean: int, n_vr: int | None = None) -> bool:
        """False iff a check fails; ``n_vr`` unknown (None) passes the
        second check, so the cheap first check can run alone."""
        if n_affected > self.fraction * n_clean:
            return False
        return n_vr is None or n_vr <= self.fraction * n_clean


def protocol(rule, labels, move, evaluate, free):
    """Run movement rounds from ``labels`` under ``rule`` (a policy
    above): begin (``rule.start`` with the input's WCC), then move
    while ``rule.more``; stop at a 0-move pass (a fixed point:
    identical labels ⇒ identical stats ⇒ identical decisions) or at a
    round ``rule.keep`` rejects.

    ``move(lab)`` returns ``(next labeling, vertices moved)``;
    ``evaluate(lab)`` its global WCC (called only when the rule
    evaluates); ``free(lab)`` releases a labeling the loop is done
    with: every rejected or 0-move one, and every kept one once its
    successor is kept.  That includes the input once superseded, so
    ``free`` must leave the caller's own data of it alone.

    Returns ``(kept labeling, moves per round, wccs)``: ``wccs`` holds
    every evaluated WCC in order (the input's, then each moved round's).
    """
    cur, moves, wccs = labels, [], []
    if rule.evaluates:
        wccs.append(evaluate(cur))
        rule.start(wccs[0])
    while rule.more(len(moves)):
        nxt, n_moved = move(cur)
        moves.append(n_moved)
        if n_moved == 0:
            free(nxt)
            break
        wcc = None
        if rule.evaluates:
            wcc = evaluate(nxt)
            wccs.append(wcc)
        if not rule.keep(wcc):
            free(nxt)
            break
        free(cur)
        cur = nxt
    return cur, moves, wccs


def replay(rule, wccs) -> None:
    """Bring ``rule`` up to date with the WCCs a ``protocol`` run on a
    copy of it evaluated (a task's): same rule, same decisions."""
    if wccs:
        rule.start(wccs[0])
        for wcc in wccs[1:]:
            rule.keep(wcc)
