"""The seeded generator: same seed, same bytes; any seed, same sizes;
the sizes BENCHMARK.json states are the ones the workloads use."""

import hashlib
import json
import os

import numpy as np
import pyarrow.parquet as pq

import gen
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _corpus_files(tmp_path, seed, name):
    d = tmp_path / name
    gen.write_corpus(gen.make_corpus(seed, 120, 50, 0.1), str(d))
    return [_sha(d / f) for f in ("documents.parquet", "embeddings.parquet")]


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    assert _corpus_files(tmp_path, 7, "a") == _corpus_files(tmp_path, 7, "b")
    assert _corpus_files(tmp_path, 7, "a") != _corpus_files(tmp_path, 8, "c")
    assert gen.make_weekly(7, 300, 2, 40, 20).weeks == gen.make_weekly(7, 300, 2, 40, 20).weeks
    a, b = gen.make_registry(7, 300, 40), gen.make_registry(7, 300, 40)
    assert all(x.equals(y) for x, y in zip(a, b))


def test_different_seeds_give_the_same_sizes():
    for seed in (1, 2, 3):
        c = gen.make_corpus(seed, 200, 80, 0.1)
        assert (c.docs.num_rows, c.embeddings.num_rows, c.near_dup_docs, c.near_dup_vecs) == \
            (200, 80, 20, 8)
    expected = [gen.make_weekly(seed, 500, 2, 100, 30).expected for seed in (1, 2, 3)]
    assert expected[0] == expected[1] == expected[2]
    assert len(gen.make_registry(1, 300, 40)[0]) == len(gen.make_registry(2, 300, 40)[0]) == 300


def test_corpus_is_a_sample_of_sf01_plus_near_duplicates():
    src = set(pq.read_table(os.path.join(gen.SF_DIR, "documents.parquet"),
                            columns=["text"]).column("text").to_pylist())
    c = gen.make_corpus(3, 400, 100, 0.1)
    texts = c.docs.column("text").to_pylist()
    assert c.docs.column("doc_id").to_pylist() == list(range(400))
    assert sum(t not in src for t in texts) <= c.near_dup_docs == 40
    norms = np.linalg.norm(np.array(c.embeddings.column("embedding").to_pylist()), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)


def test_company_names_stay_distinct_after_suffix_folding():
    names = gen.make_company_names(3, 5000)
    folded = {n.replace(" LTD", " LIMITED") for n in names}
    assert len(folded) == len(names) == 5000


def test_weekly_mix_and_truth():
    wk = gen.make_weekly(5, 1000, 2, 200, 50)
    for w, exp in enumerate(wk.expected):
        assert exp["applications_discovered"] == 200 + 10  # 5% exact duplicates
        assert exp["applicants_invalid"] == 14 and exp["individuals_skipped"] == 30
        assert exp["applications_new"] == 200 - 16 + 10
        assert len(wk.truth[w]) == 200 - 30 - 14 - 16
        assert all(1 <= c <= 1000 for c in wk.truth[w].values())
        assert wk.spelling[w].keys() == wk.truth[w].keys()


def test_benchmark_json_states_the_workload_sizes():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    whys = {w["name"]: w["why"] for w in bench["workloads"]}
    c = workloads.SIZES["curation_batch"]
    assert f"{c['docs']} docs" in whys["curation_batch"]
    assert f"{c['vecs']} vectors" in whys["curation_batch"]
    assert f"{int(c['near_dup_share'] * 100)}% near-dup" in whys["curation_batch"]
    assert f"{len(workloads.CURATION)} catalog" in whys["curation_batch"]
    e = workloads.SIZES["enrichment_weekly"]
    assert f"{e['weeks']}x{e['apps_per_week']} applications" in whys["enrichment_weekly"]
    assert f"{e['companies'] // 1000}k companies" in whys["enrichment_weekly"]
    assert all(len(w) <= 200 and "\n" not in w for w in whys.values())
