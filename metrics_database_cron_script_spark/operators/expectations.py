"""Declarative data-quality expectations: single-pass validate + route.

The pattern Delta Live Tables calls expectations and Great Expectations
calls a checkpoint, engine-native: a rule set `{name: Column<boolean>}` is
evaluated ONCE per row as plain JVM expressions, each row is routed to the
good or quarantine side, and per-rule violation counts ride the caller's
own action as `df.observe` metrics — at 100 TB the difference between
"audit the batch" costing zero extra jobs and costing one full re-scan
per rule.

Null semantics follow SQL constraints: a rule passes unless it evaluates
to FALSE — NULL (unknown) does not quarantine. Wrap a rule in
`coalesce(cond, lit(False))` for null-rejecting checks.

Reference anchor: the reference's only "validation" is crashing on a
missing price day (updatescript.py:67); `pipelines.update_tx_enriched`
keeps that invariant, this module generalizes it to arbitrary rule sets.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_FLAG = "__exp_fail"


class ExpectationsFailed(RuntimeError):
    """A rule-gated commit was aborted; `.metrics` has the per-rule
    violation counts that killed it."""

    def __init__(self, message: str, metrics: dict[str, int]):
        super().__init__(message)
        self.metrics = metrics


def observe_rules(df: DataFrame, rules: dict[str, Column] | None = None):
    """Attach rule-violation counters to `df` without routing: returns
    (df_with_observe_node, resolve) where `resolve()` — called after SOME
    action has executed the returned frame — yields
    {'rows': n, <rule>: violations...}; with no rules it counts rows only.
    The single-pass audit primitive behind `validate`, the versioned
    table's write-audit-publish and the state appends. Counters are
    `count`/`count_if`, so an empty frame resolves to zeros, not NULLs."""
    rules = rules or {}
    if "rows" in rules:
        raise ValueError(
            "'rows' is reserved for the total-row counter — rename the rule"
        )
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *[
            F.count_if(cond.eqNullSafe(F.lit(False))).alias(f"viol_{name}")
            for name, cond in rules.items()
        ],
    )

    def resolve() -> dict[str, int]:
        got = obs.get
        return {
            "rows": int(got["rows"]),
            **{name: int(got[f"viol_{name}"]) for name in rules},
        }

    return out, resolve


@dataclass(frozen=True)
class Validated:
    """Routed outputs + the lazily-populated metrics handle. `metrics()`
    blocks until SOME action has executed one of the routed frames (both
    share the observed parent plan)."""

    good: DataFrame
    quarantined: DataFrame
    _resolve: object

    def metrics(self) -> dict[str, int]:
        return self._resolve()


def validate(df: DataFrame, rules: dict[str, Column]) -> Validated:
    """Evaluate every rule once per row; quarantine rows failing ANY rule.

    The quarantine side carries a `violated` array naming the failed rules
    (for triage); the good side is schema-identical to the input. Counts
    are per-rule violations plus total rows — a row failing two rules
    increments both, so the counts are rule diagnostics, not a partition
    of rows."""
    if not rules:
        raise ValueError("validate() needs at least one rule")
    observed, resolve = observe_rules(df, rules)
    fails = [
        F.when(cond.eqNullSafe(F.lit(False)), F.lit(name))
        for name, cond in rules.items()
    ]
    flagged = observed.withColumn(_FLAG, F.array_compact(F.array(*fails)))
    good = flagged.filter(F.size(_FLAG) == 0).drop(_FLAG)
    quarantined = flagged.filter(F.size(_FLAG) > 0).withColumnRenamed(
        _FLAG, "violated"
    )
    return Validated(good=good, quarantined=quarantined, _resolve=resolve)
