"""Seeded input generators, one per workload.

Each generator is a pure function of its seed: the same seed writes the
same rows. Inputs go to parquet during set-up; a timed pass reads only those
files. The ``score_bulk``, ``resolve_stream`` and ``corpus_dedup`` inputs are
built here in plain Python, so their set-up does not run the code under
test; ``link_alias`` writes the package's ``gen_linkage_fixture`` tables.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Files per generated table: enough input splits for every core count the
# benchmark runs at (local[1] up to a 16-core host) without a repartition.
N_FILES = 16

_ADJ = ["acme", "global", "united", "pacific", "northern", "stellar", "apex",
        "summit", "pioneer", "vertex", "cascade", "harbor", "granite", "copper",
        "silver", "eastern", "liberty", "meridian", "orchid", "redwood"]
_NOUN = ["systems", "holdings", "industries", "logistics", "analytics", "labs",
         "dynamics", "partners", "networks", "energy", "foods", "materials",
         "capital", "software", "robotics", "health", "media", "transport"]
_SUFFIX = ["inc", "corp", "llc", "co", "ltd", "group", "plc", "gmbh"]
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def write_table(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(rng.randint(lo, hi)))


def _variant(rng: random.Random, name: str) -> str:
    """A surface variant: one character dropped, doubled or swapped, and the
    legal suffix replaced."""
    body, _, _ = name.rpartition(" ")
    k = rng.randrange(1, len(body) - 2)
    op = rng.randrange(3)
    if op == 0:
        body = body[:k] + body[k + 1 :]
    elif op == 1:
        body = body[:k] + body[k] + body[k:]
    else:
        body = body[:k] + body[k + 1] + body[k] + body[k + 2 :]
    return f"{body} {rng.choice(_SUFFIX)}"


def _org_names(rng: random.Random, n: int) -> list[str]:
    return [
        f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {_word(rng, 4, 7)} {rng.choice(_SUFFIX)}"
        for _ in range(n)
    ]


# --------------------------------------------------------------- score_bulk


def score_pairs_table(seed: int, n_pairs: int, n_names: int = 4000) -> pa.Table:
    """Named candidate pairs ``(pair_id, name_x, name_y, label)``.

    Half the pairs are an org name against a surface variant of itself
    (``label`` true); a quarter pair it with another org of the same
    adjective and noun (hard negatives) and a quarter with any other org.
    """
    rng = random.Random(seed)
    names = _org_names(rng, n_names)
    by_stem: dict[str, list[int]] = {}
    for i, n in enumerate(names):
        by_stem.setdefault(" ".join(n.split()[:2]), []).append(i)
    variants = [_variant(rng, n) for n in names]
    xs, ys, labels = [], [], []
    for _ in range(n_pairs):
        i = rng.randrange(n_names)
        kind = rng.random()
        if kind < 0.5:
            j, label = i, True
        else:
            pool = by_stem[" ".join(names[i].split()[:2])] if kind < 0.75 else None
            j = rng.choice(pool) if pool and len(pool) > 1 else rng.randrange(n_names)
            while j == i:
                j = rng.randrange(n_names)
            label = False
        xs.append(names[i])
        ys.append(variants[j])
        labels.append(label)
    return pa.table(
        {
            "pair_id": pa.array(range(n_pairs), pa.int64()),
            "name_x": pa.array(xs, pa.string()),
            "name_y": pa.array(ys, pa.string()),
            "label": pa.array(labels, pa.bool_()),
        }
    )


# ------------------------------------------------------------ corpus_dedup


def corpus_tables(
    seed: int,
    n_docs: int,
    *,
    doc_tokens: tuple[int, int] = (60, 120),
    n_passages: int = 40,
    passage_tokens: int = 16,
    copies: tuple[int, int] = (2, 4),
    n_reposts: int = 40,
    edits_per_repost: int = 2,
) -> tuple[pa.Table, pa.Table, pa.Table]:
    """``(docs, passages, reposts)``.

    ``docs(doc_id, text)``: random pseudo-word documents. Each planted
    passage is inserted into ``copies`` distinct host documents, and the
    words around every insertion differ between hosts, so a passage is
    exactly one maximal duplicated run in each host. A document hosts at most
    one passage. Reposts copy a document that hosts no passage and replace
    ``edits_per_repost`` of its words.

    ``passages(passage)``: the planted passages as lower-case text.
    ``reposts(id_a, id_b)``: the (original, repost) doc-id pairs.
    """
    rng = random.Random(seed)
    docs = [
        [_word(rng, 3, 9) for _ in range(rng.randint(*doc_tokens))]
        for _ in range(n_docs)
    ]
    free = rng.sample(range(n_docs), n_docs)
    passages = []
    for _ in range(n_passages):
        passage = [_word(rng, 3, 9) for _ in range(passage_tokens)]
        passages.append(" ".join(passage))
        seen_context: set[str] = set()
        for _ in range(rng.randint(*copies)):
            d = free.pop()
            doc = docs[d]
            at = rng.randrange(1, len(doc))
            # the words on either side of an insertion are unique among the
            # passage's hosts, so no host's run extends past the passage
            for side in (at - 1, at):
                while doc[side] in seen_context:
                    doc[side] = _word(rng, 3, 9)
                seen_context.add(doc[side])
            docs[d] = doc[:at] + passage + doc[at:]
    sources = free[:n_reposts]
    pairs = []
    for src in sources:
        copy = list(docs[src])
        for at in rng.sample(range(len(copy)), edits_per_repost):
            copy[at] = _word(rng, 3, 9)
        pairs.append((src, len(docs)))
        docs.append(copy)
    docs_t = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array([" ".join(d) for d in docs], pa.string()),
        }
    )
    passages_t = pa.table({"passage": pa.array(passages, pa.string())})
    reposts_t = pa.table(
        {
            "id_a": pa.array([a for a, _ in pairs], pa.int64()),
            "id_b": pa.array([b for _, b in pairs], pa.int64()),
        }
    )
    return docs_t, passages_t, reposts_t


# ---------------------------------------------------------- resolve_stream


def mention_stream_tables(
    seed: int,
    n_entities: int,
    *,
    n_batches: int = 3,
    repeat_frac: float = 0.3,
) -> tuple[pa.Table, pa.Table]:
    """``(mentions(mention_id, batch, name), labels(mention_id, entity))``.

    Batch 0 holds one canonical name per entity. The later batches split
    between them one surface variant per entity plus repeats of
    ``repeat_frac`` of the canonical names.
    """
    rng = random.Random(seed)
    canonical = _org_names(rng, n_entities)
    rows = [(0, name, e) for e, name in enumerate(canonical)]
    later = [(_variant(rng, name), e) for e, name in enumerate(canonical)]
    later += [(canonical[e], e) for e in rng.sample(range(n_entities), int(repeat_frac * n_entities))]
    rng.shuffle(later)
    rows += [(1 + k % (n_batches - 1), name, e) for k, (name, e) in enumerate(later)]
    ids = pa.array(range(len(rows)), pa.int64())
    return (
        pa.table(
            {
                "mention_id": ids,
                "batch": pa.array([b for b, _, _ in rows], pa.int32()),
                "name": pa.array([n for _, n, _ in rows], pa.string()),
            }
        ),
        pa.table({"mention_id": ids, "entity": pa.array([e for _, _, e in rows], pa.int64())}),
    )
