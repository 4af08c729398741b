"""Deterministic synthetic fixtures (FIXTURES.md): transcripts, org tables,
alias directory, labeled ground-truth pairs.

Everything derives from ``random.Random(seed)`` — no external data. The
transcripts table matches the driver ``input_hint`` schema exactly
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``; a deterministic subset of turns embeds an org name inside
``[[...]]`` markers so mention extraction is exactly recoverable.

Name-pool construction mirrors the reference's own test fixtures
(``LinkOrgs/tests/testthat/test-integration.R:6-15`` style pools plus
programmatic typo/suffix perturbations) without copying any code.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_ADJ = ["acme", "global", "united", "pacific", "northern", "stellar", "apex",
        "summit", "pioneer", "vertex", "cascade", "harbor", "granite", "copper"]
_NOUN = ["systems", "holdings", "industries", "logistics", "analytics", "labs",
         "dynamics", "partners", "networks", "energy", "foods", "materials"]
_SUFFIX = ["inc", "corp", "llc", "co", "ltd", "group"]

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _entity_code(i: int) -> str:
    """Unique 5-letter token per entity, *hash-scrambled* so codes of
    different entities differ in most positions (sequential codes would sit
    one edit apart — ambiguous even for a perfect matcher)."""
    h = (i * 2654435761 + 0x9E3779B9) % (26**5)
    out = []
    for _ in range(5):
        out.append(chr(97 + h % 26))
        h //= 26
    return "".join(out)


def _entity_name(rng: random.Random, i: int) -> str:
    return f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {_entity_code(i)}"


def _typo(rng: random.Random, s: str) -> str:
    """One deterministic character edit: drop, duplicate, or swap-adjacent."""
    if len(s) < 4:
        return s
    k = rng.randrange(1, len(s) - 2)
    op = rng.randrange(3)
    if op == 0:
        return s[:k] + s[k + 1 :]
    if op == 1:
        return s[:k] + s[k] + s[k:]
    return s[:k] + s[k + 1] + s[k] + s[k + 2 :]


def gen_linkage_fixture(
    spark: SparkSession,
    n_entities: int = 50,
    seed: int = 42,
    typo_rate: float = 0.4,
) -> dict[str, DataFrame]:
    """Two linkable org tables + alias directory + labeled true pairs.

    * ``org_x``: one canonical mention per entity (``<name> <suffix>``)
    * ``org_y``: one variant mention per entity (different suffix, possible
      single-char typo in the body) — every entity yields exactly one true
      pair, so ground truth is complete by construction.
    * ``alias_directory``: 2-4 aliases per entity sharing ``canonical_id``.
    """
    rng = random.Random(seed)
    xs, ys, pairs, aliases = [], [], [], []
    for i in range(n_entities):
        base = _entity_name(rng, i)
        sfx = rng.sample(_SUFFIX, 3)
        x_name = f"{base} {sfx[0]}"
        body = _typo(rng, base) if rng.random() < typo_rate else base
        y_name = f"{body} {sfx[1]}"
        xs.append((i, x_name, f"c{i % max(n_entities // 3, 1)}"))
        ys.append((i, y_name, f"c{i % max(n_entities // 3, 1)}"))
        pairs.append((x_name, y_name))
        ent = f"E{i:05d}"
        alias_set = {x_name.lower(), y_name.lower(), f"{base} {sfx[2]}"}
        if rng.random() < 0.5:
            alias_set.add(base)
        for a in sorted(alias_set):
            aliases.append((a, ent, round(rng.random(), 4)))

    org_x = spark.createDataFrame(xs, "id long, name string, conv_id string")
    org_y = spark.createDataFrame(ys, "id long, name string, conv_id string")
    z_true = spark.createDataFrame(pairs, "name_x string, name_y string")
    directory = spark.createDataFrame(
        aliases, "alias_name string, canonical_id string, weights double"
    )
    return {
        "org_x": org_x,
        "org_y": org_y,
        "z_true": z_true,
        "alias_directory": directory,
    }


def gen_transcripts(
    spark: SparkSession,
    n_conversations: int = 40,
    seed: int = 42,
    org_names: list[str] | None = None,
) -> DataFrame:
    """Deterministic transcripts; ~half the assistant turns mention an org
    inside ``[[...]]`` markers (exactly recoverable — FIXTURES.md §1)."""
    rng = random.Random(seed + 7)
    if org_names is None:
        org_names = [f"{_entity_name(rng, i)} inc" for i in range(20)]
    roles = ["user", "assistant", "tool"]
    fill = ["please check", "the quarterly report for", "we met with",
            "contract renewal for", "invoice from", "status update on"]
    rows = []
    t0 = dt.datetime(2026, 1, 1)
    for c in range(n_conversations):
        conv = f"conv{c:05d}"
        n_turns = rng.randint(3, 20)
        t = t0 + dt.timedelta(minutes=c * 37)
        for turn in range(n_turns):
            role = roles[turn % 3]
            t = t + dt.timedelta(seconds=rng.randint(5, 90))
            if role == "assistant" and rng.random() < 0.5:
                org = rng.choice(org_names)
                text = f"{rng.choice(fill)} [[{org}]] as discussed"
            else:
                text = f"{rng.choice(fill)} item {rng.randint(0, 999)}"
            tool = "search" if role == "tool" else ""
            rows.append((conv, turn, role, text, tool, t))
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)

