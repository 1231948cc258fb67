"""The generators are pure functions of the seed."""

from __future__ import annotations

import os

import gen


def _tree(root: str) -> dict[str, tuple[bytes, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = (f.read(), int(os.stat(path).st_mtime))
    return out


def test_tables_are_deterministic():
    a, b = gen.make_tables(7, 0.001), gen.make_tables(7, 0.001)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    c = gen.make_tables(8, 0.001)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_tables_have_fixture_shape():
    tables = gen.make_tables(7, 0.001)
    rows = gen.table_rows(0.001)
    for name, n in rows.items():
        assert tables[name].num_rows == n, name
    docs = tables["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert sum(t.endswith(" dup") for t in docs["text"]) == rows["documents"] // 20
    assert str(tables["events"].schema.field("ts").type) == "timestamp[us]"


def test_stage_in_nights_are_deterministic(tmp_path):
    def stage(root: str):
        nights, archived = [], []
        for k in range(3):
            night = gen.stage_night(os.path.join(root, f"n{k}"), k, 5, archived)
            archived += night.archived_names
            nights.append(night)
        return nights

    a = stage(str(tmp_path / "a"))
    b = stage(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    for x, y in zip(a, b):
        assert x.expected == y.expected
        assert x.archived_names == y.archived_names
        assert x.staged_bytes == y.staged_bytes
        # one notify file per expected outcome
        assert len(os.listdir(x.notify_dir)) == sum(x.expected.values())
    assert gen.REASON_DUPLICATE not in a[0].expected
    assert a[1].expected[gen.REASON_DUPLICATE] > 0


def test_night_docs_are_deterministic():
    documents = gen.make_tables(3, 0.001)["documents"]
    for k in range(3):
        assert gen.night_docs(documents, 3, k) == gen.night_docs(documents, 3, k)
    later = gen.night_docs(documents, 3, 2)
    assert len(later) == gen.DOCS_PER_NIGHT + gen.REDELIVERED_DOCS


def test_gate_reference_rule():
    ref = gen.GateReference()
    assert ref.gate([(1, "A b\nshared 1"), (2, "Shared 22\n\nc")]) == {
        1: "A b",
        2: "\nc",
    }
    # an index line seen once before is dropped on its second sighting
    assert ref.gate([(3, "a B\nnew")]) == {3: "new"}
