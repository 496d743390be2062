"""Expected outputs, computed without the code under test.

* Triple counts come from the events table by counting what the data
  model says each turn and each conversation emits.
* SPARQL answers come from plain pandas operations over the landed
  canonical table, read straight from its parquet files with pyarrow —
  never through the SPARQL path being measured.
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow.dataset as pads

from inputs import COMPLETENESS, INST, ONT, QB, RDFS_LABEL, REF_DATE

_CURRENCY = ["EUR", "USD", "JPY", "GBP", "CHF"]
_COUNTRY = ["de", "fr", "jp", "us", "gb", "ch"]
# per turn: rdf:type, qb:dataSet, rdfs:label, role, text, refDate, dct:source
_TURN_TRIPLES = 7
# per conversation: 7 dataset/DSD triples + 5 per component (role, text,
# tool); plus one lso:refYear per distinct year
_CONV_TRIPLES = 7 + 3 * 5
# each conversation mints its own role/text/tool property with an
# rdf:type and an rdfs:label; canonicalization merges all of them into
# one global anchor per field, so all copies but one collapse
_MERGED_PER_CONV = 3 * 2


def expected_converted(events: pd.DataFrame, codes: set[str]) -> int:
    """Triples the conversion emits for ``events`` with dictionary-linked
    mentions of ``codes``.

    The transcripts derivation writes each turn's text as
    ``"<event_type> paid <amount> <CUR> in <ctry>"`` with CUR and ctry
    picked by ``event_id`` mod 5 and mod 6, and nulls the tool for
    ``event_id`` mod 7 in {0, 1, 2}; every distinct alphabetic token
    found in ``codes`` is one mention triple.
    """
    eid = events["event_id"].to_numpy()
    tokens = pd.DataFrame(
        {
            "type": events["event_type"].to_numpy(),
            "cur": [_CURRENCY[i % 5] for i in eid],
            "ctry": [_COUNTRY[i % 6] for i in eid],
        }
    )
    fixed = sum(int(t in codes) for t in ("paid", "in"))
    mentions = (
        tokens["type"].isin(codes).sum()
        + tokens["cur"].isin(codes).sum()
        + tokens["ctry"].isin(codes).sum()
        + fixed * len(events)
    )
    tool = int((eid % 7 >= 3).sum())
    years = events.assign(y=events["ts"].dt.year).groupby("user_id")["y"].nunique()
    return int(
        _TURN_TRIPLES * len(events) + tool + mentions
        + _CONV_TRIPLES * len(years) + years.sum()
    )


def expected_canonical(converted: int, n_convs: int) -> int:
    return converted - _MERGED_PER_CONV * (n_convs - 1)


def read_table(path: str) -> pd.DataFrame:
    return pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["s", "p", "o", "dataset"]
    ).to_pandas()


class Answers:
    """Expected, normalized answers for ``(class, conv, turn)`` requests
    over one landed table."""

    def __init__(self, table: pd.DataFrame) -> None:
        self.n = len(table)
        self.by_p = {p: g[["s", "o", "dataset"]] for p, g in table.groupby("p")}
        self.by_s = table.groupby("s")
        self._memo: dict[tuple, object] = {}

    def _pairs(self, p: str) -> pd.DataFrame:
        return self.by_p.get(p, pd.DataFrame(columns=["s", "o", "dataset"]))

    def _members(self, conv: str) -> pd.Series:
        d = self._pairs(QB + "dataSet")
        return d.loc[d["o"] == INST + conv, "s"]

    def _obs_with(self, conv: str, p: str, how: str = "inner") -> pd.DataFrame:
        obs = self._members(conv).to_frame("obs")
        vals = self._pairs(p).rename(columns={"s": "obs", "o": "v"})[["obs", "v"]]
        return obs.merge(vals, on="obs", how=how)

    def expected(self, cls: str, conv: str, turn: int):
        key = (cls, conv, turn) if cls in ("describe", "ask") else (cls, conv)
        if key not in self._memo:
            self._memo[key] = self._compute(cls, conv, turn)
        return self._memo[key]

    def _compute(self, cls: str, conv: str, turn: int):
        obs_uri = f"{INST}observation-{conv}-{turn}"
        if cls == "bgp":
            return rows_of(self._obs_with(conv, REF_DATE), ["obs", "v"], ["obs", "t"])
        if cls == "optional":
            d = self._obs_with(conv, ONT + "transcripts-tool", how="left")
            return rows_of(d, ["obs", "v"], ["obs", "tool"])
        if cls == "group_agg":
            g = self._obs_with(conv, ONT + "transcripts-role").groupby("v").size()
            return rows_of(g.reset_index(name="n"), ["v", "n"], ["role", "n"])
        if cls == "sum":
            c = self._pairs(COMPLETENESS)
            lab = self._pairs(RDFS_LABEL)
            d = c.merge(lab[lab["o"] >= conv][["s"]], on="s")
            return ("sum", math.fsum(float(x) for x in d["o"]))
        if cls == "path":
            comp = self._pairs(QB + "component")
            frontier, seen = {f"{INST}{conv}/model"}, set()
            while frontier:
                nxt = set(comp.loc[comp["s"].isin(frontier), "o"]) - seen
                seen |= nxt
                frontier = nxt
            return rows_of(pd.DataFrame({"x": sorted(seen)}), ["x"], ["x"])
        if cls == "graph":
            lab = self._pairs(RDFS_LABEL)
            return rows_of(lab[lab["dataset"] == conv], ["s", "o"], ["s", "l"])
        if cls == "construct":
            d = self._obs_with(conv, RDFS_LABEL)
            return sorted((s, RDFS_LABEL, o) for s, o in zip(d["obs"], d["v"]))
        if cls == "describe":
            if obs_uri not in self.by_s.groups:
                return []
            g = self.by_s.get_group(obs_uri)
            return sorted(zip(g["s"], g["p"], g["o"]))
        if cls == "ask":
            return {"ask": bool((self._pairs(REF_DATE)["s"] == obs_uri).any())}
        if cls == "count":
            return [(("n", str(self.n)),)]  # one row, already in rows_of form
        raise ValueError(f"unknown query class: {cls!r}")


def rows_of(df: pd.DataFrame, cols: list[str], names: list[str]) -> list:
    """Order-free form of a SELECT answer: sorted rows of sorted
    ``(variable, lexical form)`` pairs, unbound values as None."""
    out = []
    for vals in zip(*(df[c] for c in cols)):
        row = tuple(
            sorted((n, None if _missing(v) else str(v)) for n, v in zip(names, vals))
        )
        out.append(row)
    return sorted(out, key=repr)


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def normalize(cls: str, body):
    """The order-free form of a ``POST /sparql`` JSON response."""
    if cls == "ask":
        return body
    if cls == "sum":
        return ("sum", float(body[0]["total"]))
    if cls in ("construct", "describe"):
        return sorted((r["s"], r["p"], r["o"]) for r in body)
    rows = [
        tuple(sorted((k, None if v is None else str(v)) for k, v in r.items()))
        for r in body
    ]
    return sorted(rows, key=repr)


def matches(cls: str, got, want) -> bool:
    if cls == "sum":
        return math.isclose(got[1], want[1], rel_tol=1e-9, abs_tol=1e-6)
    return got == want
