"""The benchmark's own tests: generator determinism, the delta's
entity-completeness, the tracer's self-time arithmetic, and one
end-to-end run at the smoke size.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import tracing  # noqa: E402

SMOKE = inputs.SIZES["smoke"]


def _entity_of(subject: str) -> str:
    tail = subject[len(inputs.ENT):]
    return tail.split("/", 1)[0]


def test_generators_are_deterministic_per_seed():
    a = inputs.kg_graph(3, SMOKE["kg"])
    b = inputs.kg_graph(3, SMOKE["kg"])
    c = inputs.kg_graph(4, SMOKE["kg"])
    assert a[0].equals(b[0]) and a[1].equals(b[1])
    assert not a[0].equals(c[0])
    c1, c2 = inputs.corpus_tables(3, SMOKE["corpus"]), inputs.corpus_tables(3, SMOKE["corpus"])
    assert all(c1[k].equals(c2[k]) for k in c1)


def test_kg_delta_is_entity_complete():
    """A changed entity re-emits every subject it owns, so upserting the
    delta's records replaces the entity whole."""
    base, delta, info = inputs.kg_graph(5, SMOKE["kg"])
    owned: dict[str, set[str]] = {}
    for s in base.column("subject").to_pylist():
        if s.startswith(inputs.ENT):
            owned.setdefault(_entity_of(s), set()).add(s)
    re_emitted: dict[str, set[str]] = {}
    for s in delta.column("subject").to_pylist():
        re_emitted.setdefault(_entity_of(s), set()).add(s)
    changed = [e for e in re_emitted if e in owned]
    assert len(changed) == info["changed"] + info["newly_deleted"]
    for e in changed:
        assert re_emitted[e] == owned[e]
    assert len(re_emitted) - len(changed) == info["new"]


def test_post_delta_replaces_re_emitted_subjects_whole():
    base, delta, _ = inputs.kg_graph(5, SMOKE["kg"])
    post = inputs.post_delta(base, delta)
    def rows(t):
        return sorted(zip(*(t.column(c).to_pylist() for c in ("subject", "predicate", "object"))))

    replaced = set(delta.column("subject").to_pylist())
    kept = [r for r in rows(base) if r[0] not in replaced]
    assert rows(post) == sorted(kept + rows(delta))
    assert len(kept) < base.num_rows


def test_corpus_injects_exact_and_near_copies():
    docs = inputs.corpus_tables(2, SMOKE["corpus"])["documents"].to_pylist()
    text = {d["doc_id"]: d["text"] for d in docs}
    exact = [i for i in text if inputs.EXACT_OFF <= i < inputs.NEAR_OFF]
    near = [i for i in text if i >= inputs.NEAR_OFF]
    assert exact and near
    assert all(text[i] == text[i - inputs.EXACT_OFF] for i in exact)
    assert all(text[i] == text[i - inputs.NEAR_OFF] + inputs.NEAR_SUFFIX for i in near)


def test_self_time_subtracts_covered_child_time():
    t = tracing.Tracer()
    t.active, t.phase = True, "p"
    outer = t.begin("outer", "a")
    inner = t.begin("inner", "b")
    t.end(inner)
    t.end(outer)
    outer.start, outer.end = 0.0, 10.0
    inner.start, inner.end = 2.0, 5.0
    second = t.begin("inner2", "b")
    t.end(second)
    second.start, second.end, second.parent = 4.0, 6.0, outer.id
    self_time = t.self_time_by_layer("p")
    assert self_time["a"] == 10.0 - 4.0  # children cover [2, 6]
    assert self_time["b"] == 3.0 + 2.0


def test_hook_time_is_kept_out_of_the_enclosing_span():
    """An on_return hook runs in a ``trace`` span of its own, so its time
    is not the enclosing span's self time and hook_cost reports it."""
    import time
    import types

    mod = types.SimpleNamespace(f=lambda: 3)
    t = tracing.Tracer()
    t.wrap(mod, "f", "work")
    t.on_return["f"] = lambda span, out: (time.sleep(0.05), span.info.update(n=out))
    t.active, t.phase = True, "p"
    outer = t.begin("outer", "flow")
    assert mod.f() == 3
    t.end(outer)
    hook_s, _ = t.hook_cost("p")
    assert hook_s >= 0.05
    assert t.self_time_by_layer("p")["flow"] < 0.05
    assert t.sum_span("p", "f", "n") == 3


def test_smoke_run_prints_the_result_line():
    """One end-to-end run at the smoke size: the last stdout line is the
    result object with every end-to-end metric."""
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "corpus_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0", "--size", "smoke"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())
