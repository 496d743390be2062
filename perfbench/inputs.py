"""Seeded inputs: the ``events`` table, landing arrival groups and the
SPARQL request sequence.

Everything here is a pure function of ``--seed`` (NumPy/pandas only, no
Spark), so the same seed gives the same inputs and the program under
test only ever sees what these functions produce.

The events table has the shape of the ``events`` parquet the pipeline's
``transcripts.transcripts_from_events`` derivation reads (event_id, ts,
user_id, event_type, value, props) with the same distributions as the
sf0.1 test data: ~66 events per user over 30 days of 2024, five event
types, exponential values with mean 50.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

N_BUCKETS = 64
N_GROUPS = 2
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
EVENTS_PER_USER = 66

# the SPARQL mix, in a fixed order; every block of len(CLASSES) requests
# holds each class once, so any prefix of the sequence is balanced
CLASSES = [
    "bgp", "optional", "group_agg", "sum", "path",
    "graph", "construct", "describe", "ask", "count",
]

RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
QB = "http://purl.org/linked-data/cube#"
INST = "http://linkedspending.aksw.org/instance/"
ONT = "http://linkedspending.aksw.org/ontology/"
GRAPH = "http://linkedspending.aksw.org/"
REF_DATE = ONT + "refDate"
COMPLETENESS = ONT + "completeness"
COUNT_QUERY = "SELECT (COUNT(*) AS ?n) { ?s ?p ?o }"


def make_events(seed: int, n_events: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_users = max(n_events // EVENTS_PER_USER, 1)
    seconds = np.sort(rng.uniform(0, 30 * 86400, n_events))
    return pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": (
                pd.Timestamp("2024-01-01") + pd.to_timedelta(seconds, unit="s")
            ).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )


def write_events(events: pd.DataFrame, directory: str) -> str:
    """Write ``events.parquet`` into ``directory`` (the layout
    ``transcripts_from_events`` reads); returns the directory."""
    os.makedirs(directory, exist_ok=True)
    events.to_parquet(os.path.join(directory, "events.parquet"), index=False)
    return directory


def arrival_groups(seed: int, n_buckets: int = N_BUCKETS, n_groups: int = N_GROUPS) -> list[list[int]]:
    """Which buckets land together: a seeded partition of the bucket ids
    into ``n_groups`` equal groups, in arrival order."""
    ids = list(range(n_buckets))
    random.Random(seed).shuffle(ids)
    size = n_buckets // n_groups
    return [sorted(ids[i * size:(i + 1) * size]) for i in range(n_groups)]


def conversation_turns(events: pd.DataFrame) -> dict[str, int]:
    """conv_id → number of turns, as the transcripts derivation mints them."""
    return {f"conv-{u}": int(n) for u, n in events.groupby("user_id").size().items()}


def request_plan(seed: int, turns: dict[str, int], n_requests: int, pool: int = 16) -> list[tuple]:
    """The seeded request sequence: ``(class, conv_id, turn)`` tuples.

    Constants come from a seeded pool of ``pool`` conversations; ``turn``
    (used by ``describe`` and ``ask``) may point one or two turns past
    the conversation's end, so some ASKs answer false and some DESCRIBEs
    are empty.
    """
    rng = random.Random(seed)
    convs = sorted(turns, key=lambda c: int(c.split("-")[1]))
    chosen = rng.sample(convs, min(pool, len(convs)))
    plan: list[tuple] = []
    while len(plan) < n_requests:
        block = list(CLASSES)
        rng.shuffle(block)
        for cls in block:
            conv = rng.choice(chosen)
            plan.append((cls, conv, rng.randrange(turns[conv] + 2)))
    return plan[:n_requests]


def query_text(cls: str, conv: str, turn: int) -> str:
    ds = INST + conv
    obs = f"{INST}observation-{conv}-{turn}"
    in_ds = f"?obs <{QB}dataSet> <{ds}>"
    if cls == "bgp":
        return f"SELECT ?obs ?t WHERE {{ {in_ds} . ?obs <{REF_DATE}> ?t }}"
    if cls == "optional":
        return (
            f"SELECT ?obs ?tool WHERE {{ {in_ds} "
            f"OPTIONAL {{ ?obs <{ONT}transcripts-tool> ?tool }} }}"
        )
    if cls == "group_agg":
        return (
            f"SELECT ?role (COUNT(?obs) AS ?n) WHERE {{ {in_ds} . "
            f"?obs <{ONT}transcripts-role> ?role }} GROUP BY ?role"
        )
    if cls == "sum":
        return (
            f"SELECT (SUM(?c) AS ?total) WHERE {{ ?d <{COMPLETENESS}> ?c . "
            f'?d <{RDFS_LABEL}> ?l FILTER(?l >= "{conv}") }}'
        )
    if cls == "path":
        return f"SELECT ?x WHERE {{ <{ds}/model> <{QB}component>+ ?x }}"
    if cls == "graph":
        return f"SELECT ?s ?l WHERE {{ GRAPH <{GRAPH}{conv}> {{ ?s <{RDFS_LABEL}> ?l }} }}"
    if cls == "construct":
        return (
            f"CONSTRUCT {{ ?obs <{RDFS_LABEL}> ?l }} WHERE {{ {in_ds} . "
            f"?obs <{RDFS_LABEL}> ?l }}"
        )
    if cls == "describe":
        return f"DESCRIBE <{obs}>"
    if cls == "ask":
        return f"ASK {{ <{obs}> <{REF_DATE}> ?t }}"
    if cls == "count":
        return COUNT_QUERY
    raise ValueError(f"unknown query class: {cls!r}")
