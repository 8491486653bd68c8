"""Seeded input generator for the benchmark workloads.

Every input a workload reads is derived here from one integer seed,
the word lists in ``words/`` and the sf0.1 documents and embeddings in
``data/sf0.1/``: the same seed gives byte-identical parquet files, and
every seed gives the same row counts (only the contents move). Nothing
is read from outside this directory.

The generators return plain Python/numpy structures (plus the ground
truth the output checks need); ``write_*`` helpers land them as
parquet with pyarrow so the program under test only ever sees files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "words")

# Fixed epoch for every generated timestamp: inputs must not depend on
# the wall clock, or two runs of one seed would differ.
EPOCH_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z


def words(name: str) -> list[str]:
    with open(os.path.join(WORDS_DIR, name + ".txt")) as f:
        return [w.strip() for w in f if w.strip()]


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a stream never
    shifts the values another stream draws."""
    tag = int.from_bytes(stream.encode()[:16].ljust(16, b"\0"), "little")
    return np.random.default_rng([seed & 0xFFFFFFFF, tag & 0xFFFFFFFF,
                                  (tag >> 32) & 0xFFFFFFFF])


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # no statistics/metadata that carry a timestamp: byte-identical output
    pq.write_table(table, path, compression="snappy", write_statistics=False)


# --------------------------------------------------------------- corpus
# The sf0.1 documents (5000) and embeddings (2000, 64-d, unit norm,
# 10 labels) of the engine's test data, kept as they are: every corpus
# is a seeded sample of these rows plus seeded near-duplicate edits.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


@dataclass
class Corpus:
    docs: pa.Table
    embeddings: pa.Table
    near_dup_docs: int
    near_dup_vecs: int


def _near_dup_rows(r: np.random.Generator, n: int, share: float) -> list[int]:
    """Positions of the near-duplicate rows: a fixed count, all in the
    last three quarters so each has earlier rows to copy."""
    k = int(round(n * share))
    return sorted(r.choice(np.arange(n // 4, n), k, replace=False).tolist())


def make_corpus(seed: int, n_docs: int, n_vecs: int,
                near_dup_share: float) -> Corpus:
    """``n_docs`` documents and ``n_vecs`` embeddings sampled from sf0.1
    without replacement (ids renumbered from 0, sample order kept).
    A fixed share of each table is near-duplicates of earlier rows: a
    copy of a document with 1-3 word edits drawn from sf0.1's own
    vocabulary, or a copy of a vector plus small noise, renormalized."""
    src = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                        columns=["text", "lang", "source"]).to_pydict()
    vocab = sorted({w for t in src["text"] for w in t.split()})
    r = rng(seed, "docs")
    dups = set(_near_dup_rows(r, n_docs, near_dup_share))
    picks = iter(sorted(r.choice(len(src["text"]), n_docs - len(dups), replace=False)))
    texts, langs, sources = [], [], []
    for i in range(n_docs):
        if i in dups:
            j = int(r.integers(0, i))
            toks = texts[j].split()
            for _ in range(int(r.integers(1, 4))):
                op, pos = int(r.integers(0, 3)), int(r.integers(0, len(toks)))
                if op == 0:
                    toks[pos] = vocab[int(r.integers(0, len(vocab)))]
                elif op == 1:
                    toks.insert(pos, vocab[int(r.integers(0, len(vocab)))])
                elif len(toks) > 10:
                    del toks[pos]
            texts.append(" ".join(toks))
            langs.append(langs[j])
            sources.append(sources[j])
        else:
            k = int(next(picks))
            texts.append(src["text"][k])
            langs.append(src["lang"][k])
            sources.append(src["source"][k])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOC_SCHEMA)

    e = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"),
                      columns=["embedding", "label"])
    all_vecs = np.array(e.column("embedding").to_pylist(), dtype=np.float64)
    all_labels = e.column("label").to_numpy()
    r = rng(seed, "embeddings")
    vdups = _near_dup_rows(r, n_vecs, near_dup_share)
    keep = np.setdiff1d(np.arange(n_vecs), vdups)
    rows = np.sort(r.choice(len(all_vecs), len(keep), replace=False))
    vecs = np.zeros((n_vecs, all_vecs.shape[1]))
    labels = np.zeros(n_vecs, dtype=np.int32)
    vecs[keep], labels[keep] = all_vecs[rows], all_labels[rows]
    for i in vdups:
        j = int(r.integers(0, i))
        v = vecs[j] + r.normal(scale=0.01, size=vecs.shape[1])
        vecs[i], labels[i] = v / np.linalg.norm(v), labels[j]
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }, schema=EMB_SCHEMA)
    return Corpus(docs, emb, len(dups), len(vdups))


def write_corpus(c: Corpus, sf_dir: str) -> None:
    write_parquet(c.docs, os.path.join(sf_dir, "documents.parquet"))
    write_parquet(c.embeddings, os.path.join(sf_dir, "embeddings.parquet"))


# ------------------------------------------------------------ companies
def make_company_names(seed: int, n: int) -> list[str]:
    """``n`` distinct UK-style names, 1-2 words plus a registered
    suffix. Distinct even after folding LTD into LIMITED, so every
    LTD<->LIMITED swap of an application still has one right answer."""
    base, suffixes = words("company_words"), words("suffixes")
    weights = np.array([0.5, 0.2, 0.1, 0.05, 0.1, 0.05])
    r = rng(seed, "companies")
    seen, out = set(), []
    while len(out) < n:
        k = 1 + int(r.random() < 0.75)
        stem = " ".join(base[j] for j in r.choice(len(base), k, replace=False))
        sfx = suffixes[int(r.choice(len(suffixes), p=weights))]
        key = (stem, sfx.replace("LTD", "LIMITED"))
        if key in seen:
            continue
        seen.add(key)
        out.append(f"{stem} {sfx}")
    return out


def _typo(word: str, r: np.random.Generator) -> str:
    if len(word) < 4:
        return word
    i = int(r.integers(1, len(word) - 1))
    if r.random() < 0.5:  # transpose two letters
        return word[:i] + word[i + 1] + word[i] + word[i + 2:]
    return word[:i] + "AEIOU"[int(r.integers(0, 5))] + word[i + 1:]


def _split_suffix(name: str) -> tuple[list[str], list[str]]:
    toks = name.split()
    for n_sfx in (2, 1):
        if " ".join(toks[-n_sfx:]) in words("suffixes"):
            return toks[:-n_sfx], toks[-n_sfx:]
    return toks, []


def perturb_company(name: str, r: np.random.Generator) -> tuple[str, str]:
    """One application-side spelling of a registered company name and
    the kind of noise applied."""
    stem, sfx = _split_suffix(name)
    kind = ["exact", "typo", "suffix_swap", "dropped_token", "case"][
        int(r.choice(5, p=[0.3, 0.25, 0.2, 0.15, 0.1]))]
    if kind == "typo":
        j = int(r.integers(0, len(stem)))
        stem = stem[:j] + [_typo(stem[j], r)] + stem[j + 1:]
    elif kind == "suffix_swap":
        swap = {"LIMITED": "LTD", "LTD": "LIMITED"}
        sfx = [swap.get(t, t) for t in sfx]
    elif kind == "dropped_token" and len(stem) > 1:
        del stem[int(r.integers(0, len(stem)))]
    out = " ".join(stem + sfx)
    if kind == "case":
        out = out.title()
    return out, kind


# --------------------------------------------------------- weekly batches
APP_COLUMNS = ["borough", "reference", "applicant_name", "agent_name",
               "description"]


@dataclass
class WeeklyInputs:
    company_names: list[str]
    seen_refs: list[tuple[str, str]]          # already in the warehouse
    weeks: list[list[tuple]] = field(default_factory=list)
    truth: list[dict] = field(default_factory=list)   # key -> company id
    spelling: list[dict] = field(default_factory=list)  # key -> applicant name
    expected: list[dict] = field(default_factory=list)  # stage counts


def make_weekly(seed: int, n_companies: int, n_weeks: int,
                apps_per_week: int, n_seen: int) -> WeeklyInputs:
    """Discovered applications per week, following the reference's
    end-to-end test shape: company applicants with typos, LTD<->LIMITED
    swaps and dropped tokens, individuals, exact duplicate rows, rows
    failing validation and references already in the sink. Company ids
    are ``1 + index`` into ``company_names``."""
    names = make_company_names(seed, n_companies)
    boroughs, first, last = words("boroughs"), words("first_names"), words("last_names")
    r = rng(seed, "weekly")
    seen = [(boroughs[i % len(boroughs)], f"OLD/{i:05d}") for i in range(n_seen)]
    out = WeeklyInputs(names, list(seen))
    sink = set(seen)
    for w in range(n_weeks):
        rows, truth, spelling = [], {}, {}
        mix = {"individual": 0.15, "invalid": 0.07, "seen": 0.08}
        counts = {k: int(round(p * apps_per_week)) for k, p in mix.items()}
        counts["company"] = apps_per_week - sum(counts.values())
        kinds = r.permutation(np.repeat(list(counts), list(counts.values())))
        n_new = n_valid = n_invalid = n_indiv = 0
        keys, sink_list = [], sorted(sink)
        for i, kind in enumerate(kinds):
            borough = boroughs[int(r.integers(0, len(boroughs)))]
            ref = f"W{w}/{i:05d}"
            applicant = agent = None
            if kind == "seen":
                borough, ref = sink_list[int(r.integers(0, len(sink_list)))]
                applicant = names[int(r.integers(0, len(names)))]
            elif kind == "company":
                cid = int(r.integers(0, len(names)))
                applicant, _ = perturb_company(names[cid], r)
                truth[f"{borough}|{ref}"] = cid + 1
            elif kind == "individual":
                applicant = (("Mr " if r.random() < 0.3 else "")
                             + f"{first[int(r.integers(0, len(first)))].title()} "
                             f"{last[int(r.integers(0, len(last)))].title()}")
            else:
                choice = int(r.integers(0, 3))
                applicant = [None, "", "AB"][choice]
            if kind == "company":
                spelling[f"{borough}|{ref}"] = applicant
                if r.random() < 0.1:
                    applicant, agent = None, applicant  # agent-only spelling
            rows.append((borough, ref, applicant, agent, f"Proposal {w}-{i}"))
            if kind != "seen":
                keys.append((borough, ref))
                n_new += 1
                if kind == "invalid":
                    n_invalid += 1
                else:
                    n_valid += 1
                    n_indiv += kind == "individual"
        # exact duplicates of valid new rows (collapse in the dedup stage)
        n_dups = apps_per_week // 20
        valid_rows = [row for row, k in zip(rows, kinds)
                      if k in ("company", "individual")]
        for j in r.choice(len(valid_rows), n_dups, replace=False):
            rows.append(valid_rows[int(j)])
        out.weeks.append(rows)
        out.truth.append(truth)
        out.spelling.append(spelling)
        out.expected.append({
            "applications_discovered": len(rows),
            "applications_new": n_new + n_dups,
            "applicants_valid": n_valid + n_dups,
            "applicants_invalid": n_invalid,
            "applicants_deduped": n_valid,
            "individuals_skipped": n_indiv,
        })
        sink.update(keys)
    return out


# -------------------------------------------------------------- registry
def _ts(us) -> np.ndarray:
    return np.asarray(us, dtype="int64").astype("datetime64[us]")


def make_registry(seed: int, n_companies: int, n_officers: int):
    """(companies, appointments) pandas frames with the warehouse
    columns the weekly workload reads; the engine conforms the rest to
    typed nulls. Company ids are ``1 + index`` into
    ``make_company_names(seed, n_companies)``. Officers hold 1-4
    appointments each, so the shared-officer edge table is non-trivial."""
    import pandas as pd

    names = make_company_names(seed, n_companies)
    boroughs = words("boroughs")
    r = rng(seed, "warehouse")
    numbers = r.permutation(np.arange(10_000_000, 10_000_000 + 4 * n_companies))[:n_companies]
    companies = pd.DataFrame({
        "id": np.arange(1, n_companies + 1),
        "company_number": [f"{n:08d}" for n in numbers],
        "company_name": names,
        "company_status": np.where(r.random(n_companies) < 0.8, "active", "dissolved"),
        "locality": [boroughs[j].title() for j in r.integers(0, len(boroughs), n_companies)],
        "updated_at": _ts(EPOCH_US + r.integers(0, 10**6, n_companies) * 60_000_000),
    })
    off = np.repeat(np.arange(1, n_officers + 1), r.integers(1, 5, n_officers))
    appointments = pd.DataFrame({
        "officer_id": off,
        "company_id": r.integers(1, n_companies + 1, len(off)),
        "role": np.where(r.random(len(off)) < 0.8, "director", "secretary"),
        "appointed_on": (np.datetime64("2015-01-01")
                         + r.integers(0, 3000, len(off)).astype("timedelta64[D]")),
    }).drop_duplicates(["officer_id", "company_id", "role", "appointed_on"])
    appointments.insert(0, "id", np.arange(1, len(appointments) + 1))
    appointments["is_active"] = True
    return companies, appointments
