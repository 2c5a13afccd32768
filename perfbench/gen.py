"""Seeded input generators for the benchmark, with their ground truth.

The generators belong to the benchmark, not to the package: a change to
``datapatterns_spark/sources`` cannot change what is measured.  Each one
writes parquet plus a ``facts.json`` holding the answers the harness
checks the package against.  The facts are computed here, with numpy,
from the generated values; nothing in this module imports the package.

Inputs are cached under the work directory by (kind, seed, size), so a
repeated run skips generation; generation time is never measured.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_PARTS = 16  # partitions of the transcript table (the manifest's unit)

ROLES = ["system", "user", "assistant", "tool"]
TOOLS = ["", "search", "browser", "python", "bash", "calculator"]
# 40-word soup, as in the package's transcript source
SOUP = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu query result token stream agent tool call answer 42 1999 "
    "3.14 Hello World FOO Bar baz qux"
).split()
ANOMALY_RATE = 1e-4  # each planted-anomaly family, per turn
HOT_FRACTION = 0.001  # conversations that are HOT_MULTIPLIER times longer
HOT_MULTIPLIER = 100


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def cached(root: str, name: str, build) -> tuple[str, dict]:
    """Return ``(data dir, facts)`` for input ``name`` under ``root``,
    calling ``build(tmp_dir) -> facts`` first when it is not cached yet;
    ``build`` writes its parquet under ``tmp_dir/data``."""
    path = os.path.join(root, name)
    facts_file = os.path.join(path, "facts.json")
    if not os.path.exists(facts_file):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        facts = build(tmp)
        with open(os.path.join(tmp, "facts.json"), "w") as f:
            json.dump(facts, f, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(facts_file) as f:
        return os.path.join(path, "data"), json.load(f)


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------
def transcripts(out_dir: str, n_conv: int, seed: int) -> dict:
    """Write the transcript table as one parquet file per partition
    ``part = cid % 16`` and return its facts.

    Distributions follow the package's transcript source: 5..30 turns per
    conversation, 0.1% of conversations 100x longer, roles 40/45/15
    user/assistant/tool after a system turn, 3..60 soup words of text with
    1% empty and 0.2% non-ASCII, 10 s turn steps with 0..4 s jitter.  Each
    anomaly family is planted independently at 1e-4 per turn: out-of-domain
    role, junk tool, timestamp regression, duplicated (conv_id, turn_idx).
    """
    r = _rng(seed, 1)
    hot = r.random(n_conv) < HOT_FRACTION
    conv_len = r.integers(5, 31, n_conv) * np.where(hot, HOT_MULTIPLIER, 1)
    cid = np.repeat(np.arange(n_conv, dtype=np.int64), conv_len)
    starts = np.cumsum(conv_len) - conv_len
    t = np.arange(len(cid), dtype=np.int64) - np.repeat(starts, conv_len)
    n = len(cid)

    hrole = r.integers(0, 100, n)
    role_i = np.where(hrole < 40, 1, np.where(hrole < 85, 2, 3))
    role_i[t == 0] = 0
    role = np.array(ROLES, dtype=object)[role_i]
    role_bad = r.random(n) < ANOMALY_RATE
    role[role_bad] = np.where(r.random(role_bad.sum()) < 0.5, "agent", "")

    tool = np.where(
        role == "tool", np.array(TOOLS, dtype=object)[r.integers(1, 6, n)], ""
    ).astype(object)
    tool[r.random(n) < ANOMALY_RATE] = "teleport"

    n_words = r.integers(3, 61, n)
    words = pa.array(np.array(SOUP, dtype=object)[r.integers(0, len(SOUP), int(n_words.sum()))])
    offsets = pa.array(np.r_[0, np.cumsum(n_words)].astype(np.int32))
    text = pc.binary_join(pa.ListArray.from_arrays(offsets, words), " ")
    text = pc.if_else(pa.array(r.random(n) < 0.01), "", text)
    accent = pa.array(r.random(n) < 0.002)
    text = pc.if_else(accent, pc.binary_join_element_wise("très bïen —", text, " "), text)

    reg = (r.random(n) < ANOMALY_RATE) & (t > 0)
    secs = (
        1_700_000_000 + cid * 86_400 + t * 10 + r.integers(0, 5, n) - 3600 * reg
    )
    dup = (r.random(n) < ANOMALY_RATE) & (t > 0)
    turn = np.where(dup, t - 1, t).astype(np.int32)
    part = (cid % N_PARTS).astype(np.int64)

    conv_id = np.char.add("conv-", np.char.zfill(cid.astype(str), 8)).astype(object)
    table = pa.table(
        {
            "conv_id": pa.array(conv_id, pa.string()),
            "turn_idx": pa.array(turn, pa.int32()),
            "role": pa.array(role, pa.string()),
            "text": text,
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(secs * 1_000_000, pa.timestamp("us", tz="UTC")),
            "part": pa.array(part.astype(str), pa.string()),
        }
    )
    os.makedirs(os.path.join(out_dir, "data"))
    for p in range(N_PARTS):
        pq.write_table(
            table.filter(pa.array(part == p)),
            os.path.join(out_dir, "data", f"part-{p:02d}.parquet"),
            row_group_size=64_000,
        )

    # ---- ground truth, from the arrays above ----
    # group checks run within a conversation ordered by (turn_idx, ts)
    order = np.lexsort((secs, turn, cid))
    c_s, t_s, s_s = cid[order], turn[order], secs[order]
    same_prev = np.r_[False, c_s[1:] == c_s[:-1]]
    dup_prev = same_prev & np.r_[False, t_s[1:] == t_s[:-1]]
    dup_row = dup_prev | np.r_[dup_prev[1:], False]
    regress = same_prev & np.r_[False, s_s[1:] < s_s[:-1]]
    row_fail = {
        "role_domain": ~np.isin(role, ROLES),
        "tool_domain": ~np.isin(tool, TOOLS),
        "tool_only_for_tool_role": (tool != "") & (role != "tool"),
        "text_not_null": np.zeros(n, dtype=bool),
    }
    per_part = {str(p): {} for p in range(N_PARTS)}
    for name, fail in row_fail.items():
        counts = np.bincount(part[fail], minlength=N_PARTS)
        for p in range(N_PARTS):
            per_part[str(p)][name] = int(counts[p])
    for name, fail in (("unique_turn", dup_row), ("ts_monotonic", regress)):
        counts = np.bincount(part[order][fail], minlength=N_PARTS)
        for p in range(N_PARTS):
            per_part[str(p)][name] = int(counts[p])
    turn_hist = {
        str(p): np.bincount(turn[part == p], minlength=1).tolist()
        for p in range(N_PARTS)
    }

    text_np = text.to_numpy(zero_copy_only=False)
    profile = {}
    for name, values, filled in (
        ("conv_id", conv_id, np.ones(n, dtype=bool)),
        ("turn_idx", turn, turn != 0),
        ("role", role, role != ""),
        ("text", text_np, text_np != ""),
        ("tool", tool, tool != ""),
        ("ts", secs, np.ones(n, dtype=bool)),
    ):
        profile[name] = {
            "rec_count": n,
            "fill_count": int(filled.sum()),
            "cardinality": len(pc.unique(pa.array(values[filled]))),
        }
    return {
        "rows": n,
        "violations": per_part,
        "turn_hist": turn_hist,
        "profile": profile,
    }


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------
CORPUS_PARTS = 8  # parts 0-3 are the base batch, 4-7 the current one
CORPUS_SCHEMA = "doc_id bigint, text string, n_tokens int, part string"


def _vocab(r: np.random.Generator, size: int) -> np.ndarray:
    syll = np.array(
        ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pe", "da", "gu",
         "ho", "ji", "fa", "be", "co", "xi", "wy", "qu"],
        dtype=object,
    )
    words: set[str] = set()
    while len(words) < size:
        k = int(r.integers(2, 5))
        words.add("".join(syll[r.integers(0, len(syll), k)]))
    return np.array(sorted(words), dtype=object)


def corpus(out_dir: str, n_base: int, seed: int) -> dict:
    """Write a corpus of short documents and return its facts.

    ``n_base`` unique documents of 40..120 tokens (base batch) or 60..160
    tokens (current batch: the planted length drift) are drawn from a
    Zipf-like vocabulary (rank ** -1.1 over 4,000 pseudo-words).  Planted:

    * exact-duplicate groups: a document plus 1..3 identical copies;
    * near-duplicates: a copy with about 3% of its tokens replaced;
    * boilerplate: 24-token spans, each added as header or footer to
      6..10 documents (near-duplicate edits avoid it);
    * repetitive junk: one short line repeated 8..12 times.

    Group sizes stay below the curation span-cut ``min_count`` (5) while
    every boilerplate span is seen at least 6 times, so only boilerplate
    is cut.  Doc ids are a seeded permutation, so groups are not
    contiguous in id order.
    """
    r = _rng(seed, 2)
    vocab = _vocab(r, 4000)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    base_batch = r.random(n_base) < 0.5
    lens = np.where(base_batch, r.integers(40, 121, n_base), r.integers(60, 161, n_base))
    docs = [list(vocab[r.choice(len(vocab), size=k, p=p)]) for k in lens]
    batch = list(np.where(base_batch, 0, 1))
    kind = ["unique"] * n_base
    group = [-1] * n_base

    # boilerplate goes on as a header or a footer, so spans stay whole;
    # own[d] is the document's own token range, between them
    n_boiler = max(2, n_base // 60)
    own = [[0, len(d)] for d in docs]
    boiler_docs: set[int] = set()
    for _ in range(n_boiler):
        span = list(vocab[r.integers(0, len(vocab), 24)])
        for d in r.choice(n_base, size=int(r.integers(6, 11)), replace=False):
            if r.random() < 0.5:
                docs[d][:0] = span
                own[d][0] += len(span)
                own[d][1] += len(span)
            else:
                docs[d].extend(span)
            boiler_docs.add(int(d))

    pool = r.permutation(n_base)
    n_exact = max(2, n_base // 25)
    n_near = max(2, n_base // 25)
    exact_bases = [int(x) for x in pool[:n_exact]]
    near_bases = [int(x) for x in pool[n_exact : n_exact + n_near]]
    texts = [" ".join(d) for d in docs]
    boiler = [i in boiler_docs for i in range(n_base)]

    def add(text, b, k, g):
        texts.append(text)
        batch.append(batch[b] if b >= 0 else int(r.integers(0, 2)))
        boiler.append(boiler[b] if b >= 0 else False)
        kind.append(k)
        group.append(g)

    for g, b in enumerate(exact_bases):
        kind[b] = "exact"
        group[b] = g
        for _ in range(int(r.integers(1, 4))):
            add(texts[b], b, "exact", g)
    for b in near_bases:
        kind[b] = "near_base"
        toks = list(docs[b])
        lo, hi = own[b]
        for i in lo + r.choice(hi - lo, size=max(1, (hi - lo) * 3 // 100), replace=False):
            toks[i] = str(vocab[r.integers(0, len(vocab))])
        add(" ".join(toks), b, "near_copy", -1)
    for _ in range(max(2, n_base // 50)):
        line = " ".join(vocab[r.integers(0, 50, 6)])
        add("\n".join([line] * int(r.integers(8, 13))), -1, "junk", -1)

    n = len(texts)
    ids = r.permutation(n).astype(np.int64) + 1
    batch_a = np.array(batch)
    part = np.where(batch_a == 0, ids % 4, 4 + ids % 4)
    n_tokens = np.array([len(t.split()) for t in texts], dtype=np.int32)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "n_tokens": pa.array(n_tokens, pa.int32()),
            "part": pa.array(part.astype(str), pa.string()),
        }
    )
    os.makedirs(os.path.join(out_dir, "data"))
    for k in range(CORPUS_PARTS):
        pq.write_table(table.filter(pa.array(part == k)),
                       os.path.join(out_dir, "data", f"part-{k}.parquet"))

    groups: dict[int, list[int]] = {}
    for i, g in enumerate(group):
        if g >= 0:
            groups.setdefault(g, []).append(int(ids[i]))
    base_tok = n_tokens[batch_a == 0].astype(np.float64)
    cur_tok = n_tokens[batch_a == 1].astype(np.float64)
    grid = np.union1d(base_tok, cur_tok)
    ks = float(
        np.max(
            np.abs(
                np.searchsorted(np.sort(base_tok), grid, side="right") / len(base_tok)
                - np.searchsorted(np.sort(cur_tok), grid, side="right") / len(cur_tok)
            )
        )
    )
    profile = {}
    for name, values in (("doc_id", ids), ("text", np.array(texts, dtype=object)),
                         ("n_tokens", n_tokens)):
        profile[name] = {
            "rec_count": n,
            "fill_count": n,
            "cardinality": int(len(np.unique(values))),
        }
    return {
        "rows": n,
        "exact_groups": [sorted(v) for v in groups.values()],
        "junk": sorted(int(ids[i]) for i in range(n) if kind[i] == "junk"),
        # neither duplicated nor junk: every one must survive curation
        "unique_clean": sorted(int(ids[i]) for i in range(n_base) if kind[i] == "unique"),
        "boilerplate": sorted(int(ids[i]) for i in range(n) if boiler[i]),
        "n_tokens_ks": ks,
        "profile": profile,
    }
