"""The benchmark's own tests: span self-time arithmetic, the output
comparison and export digest, and a tiny-input smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import inputs  # noqa: E402
from tracing import Span, Tracer, self_times  # noqa: E402


def _session_members(sid: int) -> list[str]:
    """Command lines of the live processes in session ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[0] != "Z" and int(fields[3]) == sid:
                with open(f"/proc/{d}/cmdline") as f:
                    out.append(f.read().replace("\0", " "))
        except (OSError, ValueError, IndexError):
            continue
    return out


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "r")


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("bench:probes", 0.0, 10.0),
        _span("plans.pipeline:scan", 1.0, 3.0, 0),
        # overlapping children count their union once
        _span("plans.pipeline:write", 2.0, 5.0, 0),
        _span("core:extract_turn", 6.0, 7.0, 0),
        # a child running past its parent is clipped to the parent
        _span("host:canaries", 9.0, 12.0, 0),
        _span("plans.pipeline:inner", 3.5, 4.0, 2),
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 4.0 - 1.0 - 1.0)
    assert st["plans.pipeline"] == pytest.approx(2.0 + (3.0 - 0.5) + 0.5)
    assert st["core"] == pytest.approx(1.0)
    assert st["host"] == pytest.approx(3.0)


def test_tracer_records_nesting_and_can_be_off(tmp_path):
    t = Tracer("run-1")
    with t.span("a:outer"):
        with t.span("b:inner"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.spans[0].start <= t.spans[1].start <= t.spans[1].end \
        <= t.spans[0].end
    t.write(str(tmp_path / "s.jsonl"))
    rows = [json.loads(x) for x in open(tmp_path / "s.jsonl")]
    assert rows[1]["name"] == "b:inner" and rows[1]["run_id"] == "run-1"
    off = Tracer("run-2", enabled=False)
    with off.span("a:x"):
        pass
    assert off.spans == []


def _oracle_rows(texts):
    rows = [inputs.oracle_turn(t) for t in texts]
    cols = {"conv_id": [f"c{i:02d}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "role": ["user"] * len(texts), "tool": [""] * len(texts)}
    for i, name in enumerate(inputs.ORACLE_SCHEMA.names[4:]):
        cols[name] = [r[i] for r in rows]
    return pa.table(cols, schema=inputs.ORACLE_SCHEMA)


def test_compare_is_order_sensitive_and_names_the_row():
    want = _oracle_rows(["plain text here.", "<p>html para</p>",
                         "a  b  c\n\nd  e  f", ""])
    assert checks.compare(want, want, "x") == []
    swapped = pa.concat_tables([want.slice(1, 1), want.slice(0, 1),
                                want.slice(2)])
    assert checks.compare(swapped, want, "x")
    conf = want["confidence"].to_pylist()
    conf[2] = conf[2] + 1e-12   # a change in the 12th digit is caught
    bad = want.set_column(want.schema.get_field_index("confidence"),
                          "confidence", pa.array(conf))
    (msg,) = checks.compare(bad, want, "x")
    assert "confidence" in msg and "('c02', 2)" in msg
    assert "rows" in checks.compare(want.slice(1), want, "x")[0]


def test_export_digest_ignores_file_layout(tmp_path):
    corpus = pa.table({"doc_id": [3, 1, 2], "text": ["c", "a", "b"]})
    assign = pa.table({"doc_id": [3, 1, 2], "shard": [0, 1, 0],
                       "bin": [0, 0, 1], "n_tokens": [5, 6, 7],
                       "oversize": [False, False, True]})

    def write(root, parts):
        for name, t in (("corpus", corpus), ("assignment", assign)):
            for k, idx in enumerate(parts):
                d = root / name / "split=train"
                d.mkdir(parents=True, exist_ok=True)
                pq.write_table(t.take(idx), d / f"part-{k}.parquet")
        return str(root / "corpus"), str(root / "assignment")

    a = checks.export_digest(*write(tmp_path / "a", [[0, 1, 2]]))
    b = checks.export_digest(*write(tmp_path / "b", [[2], [1, 0]]))
    assert a == b
    assign = assign.set_column(2, "bin", pa.array([0, 1, 1]))
    c = checks.export_digest(*write(tmp_path / "c", [[0, 1, 2]]))
    assert c != a


@pytest.mark.parametrize("workload,trace", [("extract_ordered", 0),
                                            ("prepare_export", 0),
                                            ("extract_ordered", 1)])
def test_tiny_smoke_run(workload, trace, tmp_path):
    """Each workload end to end on tiny inputs, in its own process as the
    benchmark always runs; the traced run covers every layer probe of
    both paths. No process the run started outlives it."""
    tiny_t = {"n_convs": 12, "mega_every": 6, "mega_turns": 60}
    tiny_d = {"n_base": 120, "copies": 2}
    code = "\n".join([
        "import sys",
        f"sys.path.insert(0, {HERE!r})",
        "import run",
        f"run.WORK = {str(tmp_path / 'work')!r}",
        "run.SETUPS = 1",
        f"run.TRANSCRIPTS = run.TRANSCRIPTS_PROBE = {tiny_t!r}",
        f"run.DOCUMENTS = run.DOCUMENTS_PROBE = {tiny_d!r}",
        f"sys.argv = ['run.py', '--workload', {workload!r}, '--seed', '5',"
        f" '--seconds', '0.1', '--trace', '{trace}']",
        "sys.exit(run.main())"])
    # output to files, not pipes: a leftover child holding a pipe would
    # make the wait outlast it
    with open(tmp_path / "out", "w") as out, \
            open(tmp_path / "err", "w") as err:
        p = subprocess.Popen([sys.executable, "-c", code], stdout=out,
                             stderr=err, start_new_session=True)
        p.wait(timeout=600)
    assert _session_members(p.pid) == []
    assert p.returncode == 0, (tmp_path / "err").read_text()[-3000:]
    out = (tmp_path / "out").read_text()
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    want = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
