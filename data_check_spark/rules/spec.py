"""Declarative rule specifications.

The reference keeps rule *metadata* in a JSON catalog keyed by check ID
(reference: check_definitions.json:2-975, schema documented design.md:102-114)
but hard-codes rule *logic* as Python closures (reference:
dekispart.py:1112-1139). This engine unifies both: one JSON-able spec per rule
carries the metadata AND enough structure for the compiler to produce a
``pyspark.sql.Column`` predicate. Rules therefore ship as data
(``--files rules.json``), not code.

Row-local kinds (compiled into the single-pass projection):

- ``not_null``            — blank check (tri-state blank semantics)
- ``format``              — value must fully match ``pattern`` (blank-exempt)
- ``forbidden_substring`` — value must not contain/match any of ``any_of``
- ``value_in_set``        — value must be one of ``allowed`` (blank-exempt)
- ``range``               — numeric bounds ``min``/``max`` (inclusive)
- ``length``              — exact/min/max string length
- ``cross_column``        — arbitrary SQL boolean expr over the row; TRUE =
                            violation. ``{run_ts}`` expands to the pinned run
                            timestamp literal (determinism: the reference
                            calls ``datetime.now()`` per row,
                            dekispart.py:473; we pin one literal per job).
- ``multi_column``        — one predicate template applied to each of
                            ``columns``; ONE violation per matching FIELD
                            (reference: CLOUD CHK_0006/0022 per-field
                            emission, cloud.py:237-246, 765-787). The
                            template uses ``{col}`` as the placeholder.
- ``date_parse``          — parse ``column`` with ``try_to_timestamp``
                            (optional ``format``); a non-blank value that
                            fails to parse emits a SECONDARY rule id
                            ``<RULE_ID>_PARSE_ERROR`` (override via
                            ``parse_rule_id``), and the optional ``expr``
                            (with ``{parsed}`` as the parsed-value
                            placeholder) checks successfully parsed values
                            under the primary rule id — the reference's
                            parse-null escalation (dekispart.py:855-859,
                            innosite.py:417-419, 396-398).

Set-oriented kinds (built by their ``SET_KINDS`` entry, not the projection):

- ``unique``              — duplicate detection (partial + final count)
- ``referential``         — semi/anti join against a dimension table
- ``aggregate_unique``    — one violation per duplicate *value* (reference:
                            dekispart_school.py:204-208)
- ``drift``               — t-digest distribution drift vs baseline snapshot
- ``cat_drift``           — categorical-mix drift (per-partition
                            total-variation distance vs the table mix)
- ``rate_drift``          — predicate-rate drift (per-partition rate of a
                            boolean SQL predicate — null/blank rate, error
                            rate — vs the whole-table rate, basis points)
- ``volume_drift``        — per-partition row count vs the uniform
                            expectation (mean partition size, basis points)
- ``audio_decode``        — decoded-PCM SNR>=30dB allclose (pandas UDF)
- ``transcript_match``    — byte-equality vs transcript dimension
- ``func_dep``            — functional dependency: ``params["determinant"]``
                            columns must determine ``column`` (>1 distinct
                            dependent value per determinant tuple violates;
                            ``grain`` row|group, NULL dependents ignored
                            unless ``count_null_dependent``)
- ``reconcile``           — aggregate-grain arithmetic consistency: the
                            fact table's stored total (``column``) must
                            equal the sum of ``params["amount_col"]`` over
                            the child rows in ``params["dim"]`` grouped by
                            ``params["dim_key"]`` (joined to the fact's
                            ``params["fact_key"]``), to within
                            ``params["tolerance_cents"]`` integer cents.
                            Header↔detail reconciliation — the aggregate
                            lift of the row-grain price-arithmetic family
                            (innosite.py CHK_0002)
- ``cardinality``         — relationship multiplicity: each fact row's
                            child count in ``params["dim"]`` (child key
                            ``params["dim_key"]`` vs fact key
                            ``params["fact_key"]``) must fall inside
                            ``[params["min_children"],
                            params["max_children"]]`` (max optional).
                            Referential proves existence; this proves HOW
                            MANY — "every clip has exactly one transcript"
- ``outlier``             — per-group robust outliers: rows whose ``column``
                            falls outside Tukey's fence (Q1−1.5·IQR,
                            Q3+1.5·IQR] of their group's own distribution —
                            learned bounds where ``range`` hard-codes them.
                            ``params["group_by"]`` (default: the partition
                            column), ``params["scale"]`` quantization
                            (default 100)
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame

from data_check_spark.operators.audio import (
    snr_column_violations,
    transcript_match_violations,
    transcript_wer_violations,
)
from data_check_spark.operators.drift import (
    categorical_drift_violations,
    drift_violations,
    rate_drift_violations,
    volume_drift_violations,
)
from data_check_spark.operators.funcdep import func_dep_violations
from data_check_spark.operators.profile import agg_threshold_violations, outlier_violations
from data_check_spark.operators.referential import (
    anti_join_violations,
    cardinality_rule_violations,
    orphan_violations,
    reconcile_violations,
    semi_join_violations,
)
from data_check_spark.operators.uniqueness import (
    aggregate_unique_violations,
    unique_violations,
)

ROW_LOCAL_KINDS = {
    "not_null",
    "format",
    "forbidden_substring",
    "value_in_set",
    "range",
    "length",
    "cross_column",
    "multi_column",
    "date_parse",
}


@dataclass(frozen=True)
class SetScope:
    """What a set-rule builder reads besides its rule and input table."""

    dims: dict[str, DataFrame]
    partition_col: str
    gate: Column | None = None  # the rule's gate, for gate="operator" kinds
    dups: DataFrame | None = None  # shared duplicate_keys, for shares_dups kinds


@dataclass(frozen=True)
class SetKind:
    """How the engine runs one set-oriented kind.

    ``build(rule, df, scope)`` returns the rule's violation rows over ``df``.
    ``gate``: ``"filter"`` the input by the rule's gate before building,
    hand it to the ``"operator"``, or ``"reject"`` a gated rule when it is
    constructed (its operator would ignore the gate); a callable of the
    params where it depends on them.
    ``global_grain``: the output depends on the whole table, so a resume run
    builds the rule over every partition and a member batch leaves it to
    the owner batch; a callable of (params, partition_col) where it depends.
    ``dims(params)``: the dimension tables the rule reads.
    ``shares_dups``: ungated rules of this kind on the same column share one
    ``duplicate_keys`` computation (``scope.dups``).
    """

    build: Callable[[Rule, DataFrame, SetScope], DataFrame]
    gate: str | Callable[[dict[str, Any]], str] = "filter"
    global_grain: bool | Callable[[dict[str, Any], str], bool] = False
    dims: Callable[[dict[str, Any]], set[str]] = lambda p: set()
    shares_dups: bool = False

    def gate_mode(self, params: dict[str, Any]) -> str:
        return self.gate(params) if callable(self.gate) else self.gate

    def is_global(self, params: dict[str, Any], partition_col: str) -> bool:
        g = self.global_grain
        return g(params, partition_col) if callable(g) else g


def _param_dim(p: dict[str, Any]) -> set[str]:
    return {p["dim"]} if "dim" in p else set()


def _referential(r: Rule, df: DataFrame, s: SetScope) -> DataFrame:
    p, mode = r.params, r.params.get("mode", "anti")
    keys = dict(fact_key=r.column or "clip_id", dim_key=p.get("dim_key", "clip_id"))
    if mode == "orphan":
        return orphan_violations(df, s.dims[p["dim"]], r.rule_id, **keys)
    if mode not in ("anti", "semi"):
        raise ValueError(f"unknown referential mode {mode!r} ({r.rule_id})")
    op = anti_join_violations if mode == "anti" else semi_join_violations
    return op(df, s.dims[p["dim"]], r.rule_id, gate=s.gate,
              partition_col=s.partition_col, **keys)


def _transcript(op, **extra):
    # The join key is params["dim_key"] on BOTH sides and the compared fact
    # column is rule.column, exactly as the fused dim join reads them.
    def build(r: Rule, df: DataFrame, s: SetScope) -> DataFrame:
        p = r.params
        return op(df, s.dims[p["dim"]], r.rule_id,
                  fact_key=p.get("dim_key", "clip_id"), dim_key=p.get("dim_key", "clip_id"),
                  fact_text=r.column or "transcript",
                  ref_text=p.get("ref_column", "transcript_ref"),
                  partition_col=s.partition_col,
                  **{k: p.get(k, v) for k, v in extra.items()})
    return build


# The one table of set-oriented kinds. Global grain (see SetKind): the
# uniqueness kinds and func_dep (the duplicate / violating key set spans the
# table); cat/rate/volume drift (their baseline is the CURRENT table's mix,
# rate or mean size); reconcile and referential orphan (orphan child rows
# have no fact partition); cardinality (child counts are a property of the
# whole child table); outlier grouped by anything but the partition column
# (the fence then spans partitions).
SET_KINDS: dict[str, SetKind] = {
    "unique": SetKind(
        lambda r, df, s: unique_violations(df, r.rule_id, r.column or "clip_id",
                                           partition_col=s.partition_col, dups=s.dups),
        global_grain=True, shares_dups=True),
    "aggregate_unique": SetKind(
        lambda r, df, s: aggregate_unique_violations(df, r.rule_id, r.column or "clip_id",
                                                     dups=s.dups),
        global_grain=True, shares_dups=True),
    "referential": SetKind(
        _referential,
        gate=lambda p: "reject" if p.get("mode") == "orphan" else "operator",
        global_grain=lambda p, partition_col: p.get("mode") == "orphan",
        dims=_param_dim),
    "drift": SetKind(
        lambda r, df, s: drift_violations(df, s.dims["baseline_stats"], r.rule_id, r.column,
                                          threshold=r.params.get("threshold", 0.25),
                                          partition_col=s.partition_col),
        gate="reject", dims=lambda p: {"baseline_stats"}),
    "cat_drift": SetKind(
        lambda r, df, s: categorical_drift_violations(
            df, r.rule_id, r.column or "codec",
            threshold_bp=r.params.get("threshold_bp", 2500),
            min_rows=r.params.get("min_rows", 100), partition_col=s.partition_col),
        gate="reject", global_grain=True),
    "rate_drift": SetKind(
        lambda r, df, s: rate_drift_violations(
            df, r.rule_id, r.params["predicate"],
            threshold_bp=r.params.get("threshold_bp", 500),
            min_rows=r.params.get("min_rows", 100), partition_col=s.partition_col),
        gate="reject", global_grain=True),
    "volume_drift": SetKind(
        lambda r, df, s: volume_drift_violations(
            df, r.rule_id, threshold_bp=r.params.get("threshold_bp", 5000),
            partition_col=s.partition_col),
        gate="reject", global_grain=True),
    # SNR is computed once in the engine's wide pass (SNR_COL); this reads it.
    "audio_decode": SetKind(
        lambda r, df, s: snr_column_violations(
            df, r.rule_id, snr_db_min=r.params.get("snr_db_min", 30.0),
            gate=s.gate, partition_col=s.partition_col),
        gate="operator"),
    "agg_threshold": SetKind(
        lambda r, df, s: agg_threshold_violations(
            df, r.rule_id, r.params["metric_expr"],
            min_value=r.params.get("min_value"), max_value=r.params.get("max_value"))),
    "outlier": SetKind(
        lambda r, df, s: outlier_violations(
            df, r.rule_id, r.column, partition_col=s.partition_col,
            group_col=r.params.get("group_by"), scale=r.params.get("scale", 100)),
        global_grain=lambda p, partition_col: p.get("group_by") not in (None, partition_col)),
    "func_dep": SetKind(
        lambda r, df, s: func_dep_violations(
            df, r.rule_id, r.params["determinant"], r.column,
            partition_col=s.partition_col,
            count_null_dependent=r.params.get("count_null_dependent", False),
            grain=r.params.get("grain", "row")),
        global_grain=True),
    "reconcile": SetKind(
        lambda r, df, s: reconcile_violations(
            df, s.dims[r.params["dim"]], r.rule_id,
            parent_key=r.params.get("fact_key", "clip_id"),
            child_key=r.params.get("dim_key", "clip_id"),
            total_col=r.column, amount_col=r.params["amount_col"],
            tolerance_cents=r.params.get("tolerance_cents", 0),
            partition_col=s.partition_col),
        global_grain=True, dims=_param_dim),
    "cardinality": SetKind(
        lambda r, df, s: cardinality_rule_violations(
            df, s.dims[r.params["dim"]], r.rule_id,
            parent_key=r.params.get("fact_key", "clip_id"),
            child_key=r.params.get("dim_key", "clip_id"),
            min_children=r.params.get("min_children", 1),
            max_children=r.params.get("max_children"),
            partition_col=s.partition_col),
        global_grain=True, dims=_param_dim),
    "transcript_match": SetKind(
        _transcript(transcript_match_violations), gate="reject", dims=_param_dim),
    "transcript_wer": SetKind(
        _transcript(transcript_wer_violations, max_wer_bp=2500),
        gate="reject", dims=_param_dim),
}


@dataclass(frozen=True)
class Rule:
    rule_id: str
    kind: str
    column: str | None = None
    # hash=False: the generated __hash__ would TypeError on the dict field,
    # making every set()/dict-key use of Rule blow up despite frozen=True.
    # Equality still includes params.
    params: dict[str, Any] = field(default_factory=dict, hash=False)
    # SQL boolean expr; rule only applies where gate is TRUE (reference's
    # "active member" gates, e.g. stdKaiyaku==False, dekispart.py:154).
    gate: str | None = None
    severity: str = "error"  # error | warning
    name: str = ""
    message: str = ""

    def __post_init__(self) -> None:
        if self.kind not in ROW_LOCAL_KINDS and self.kind not in SET_KINDS:
            raise ValueError(f"unknown rule kind: {self.kind!r} ({self.rule_id})")
        if self.gate and not self.is_row_local and (
            SET_KINDS[self.kind].gate_mode(self.params) == "reject"
        ):
            mode = f" mode {self.params['mode']!r}" if "mode" in self.params else ""
            raise ValueError(
                f"rule {self.rule_id}: kind {self.kind!r}{mode} applies no gate, "
                f"so the gate {self.gate!r} would be silently ignored"
            )

    @property
    def is_row_local(self) -> bool:
        return self.kind in ROW_LOCAL_KINDS

    def to_dict(self) -> dict[str, Any]:
        return {
            "rule_id": self.rule_id,
            "kind": self.kind,
            "column": self.column,
            # copy: the caller mutating the exported dict must not reach
            # back into this frozen rule's params
            "params": dict(self.params),
            "gate": self.gate,
            "severity": self.severity,
            "name": self.name,
            "message": self.message,
        }


@dataclass
class RuleCatalog:
    rules: list[Rule]

    def __post_init__(self) -> None:
        seen: set[str] = set()
        for r in self.rules:
            if r.rule_id in seen:
                raise ValueError(f"duplicate rule_id in catalog: {r.rule_id}")
            seen.add(r.rule_id)

    @property
    def row_local(self) -> list[Rule]:
        return [r for r in self.rules if r.is_row_local]

    @property
    def set_oriented(self) -> list[Rule]:
        return [r for r in self.rules if not r.is_row_local]

    def __iter__(self):
        return iter(self.rules)

    def __len__(self) -> int:
        return len(self.rules)

    def get(self, rule_id: str) -> Rule:
        for r in self.rules:
            if r.rule_id == rule_id:
                return r
        raise KeyError(rule_id)

    # Message resolution mirrors the reference's user-message override chain
    # (reference: data_check.py:539-550: user_message > default_message).
    def message_for(self, rule_id: str) -> str:
        r = self.get(rule_id)
        return r.message or r.name or rule_id

    def to_json(self) -> str:
        return json.dumps([r.to_dict() for r in self.rules], ensure_ascii=False, indent=2)

    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(self.to_json())


def load_catalog(path_or_list: str | list[dict[str, Any]]) -> RuleCatalog:
    if isinstance(path_or_list, str):
        with open(path_or_list, encoding="utf-8") as f:
            raw = json.load(f)
    else:
        raw = path_or_list
    return RuleCatalog([Rule(**item) for item in raw])


def _rule_column_refs(rule: Rule, known_columns: set[str]) -> set[str]:
    """Columns a rule watches: explicit fields first, then a whole-word scan
    of its SQL/template strings against the table's actual column names
    (never a general SQL parse — `known_columns` bounds false positives)."""
    import re as _re

    refs: set[str] = set()
    if rule.column and rule.column in known_columns:
        refs.add(rule.column)
    for key in ("columns", "determinant", "group_by", "fact_key"):
        v = rule.params.get(key)
        names = [v] if isinstance(v, str) else (v or [])
        refs.update(n for n in names if n in known_columns)
    texts = [rule.gate or "", rule.params.get("expr", ""),
             rule.params.get("template", ""), rule.params.get("predicate", "")]
    for text in texts:
        if not text:
            continue
        for name in known_columns:
            if _re.search(rf"\b{_re.escape(name)}\b", text):
                refs.add(name)
    return refs


def catalog_coverage(catalog: RuleCatalog, columns: list[str]) -> list[dict[str, Any]]:
    """Which table columns does this catalog actually watch? — the meta-audit
    that finds the BLIND SPOTS (a column no rule references can rot without
    any violation ever firing; the reference has no equivalent — unwatched
    columns are simply invisible there).

    Driver-side metadata only (no Spark job). One dict per table column:
    ``{"column", "n_rules", "rule_ids" (sorted), "covered"}``, in the given
    column order. Gate-only references count as coverage — a gate read IS a
    dependency on the column's correctness."""
    per: dict[str, list[str]] = {c: [] for c in columns}
    known = set(columns)
    for rule in catalog:
        for c in _rule_column_refs(rule, known):
            per[c].append(rule.rule_id)
    return [
        {
            "column": c,
            "n_rules": len(per[c]),
            "rule_ids": sorted(per[c]),
            "covered": bool(per[c]),
        }
        for c in columns
    ]
