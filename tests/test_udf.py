"""Row-map scaffold and extract_batches output chunking (no Spark
needed), plus a guard that keeps the scaffold the only per-row path."""

import ast
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from dce_spark.core.api import extract_page
from dce_spark.spark import udf

_PAGE = (
    b"<html><body><article>"
    + b"".join(
        b"<h2>Heading %d</h2><p>Some <b>bold</b> and <a href='http://x.test/%d'>"
        b"linked</a> text in paragraph %d of the page.</p>" % (i, i, i)
        for i in range(30)
    )
    + b"</article></body></html>"
)

_OUT = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("n", T.DoubleType()),
    ]
)


def _input(n: int, per_batch: int) -> list[pa.RecordBatch]:
    ids = list(range(n))
    return [
        pa.RecordBatch.from_pydict({"id": ids[i:i + per_batch]})
        for i in range(0, n, per_batch)
    ]


def _rows(batches) -> list[tuple]:
    out = []
    for b in batches:
        assert b.num_rows > 0  # never an empty batch
        assert b.schema.equals(to_arrow_schema(_OUT))
        out.extend(zip(*(c.to_pylist() for c in b.columns)))
    return out


def _fan(i):
    """0, 1 or 2 rows per input row, str/binary sizes varying with i."""
    for j in range(i % 3):
        yield i, "s" * (i % 7), b"b" * j, float(i)


def test_map_batches_unbounded_union_and_fanout():
    out = _rows(udf.map_batches(iter(_input(100, 7)), _OUT, _fan))
    assert out == [r for i in range(100) for r in _fan(i)]
    # 0 and n rows per input row: each i contributes i % 3 rows
    assert len(out) == sum(i % 3 for i in range(100))


def test_map_batches_flushes_on_row_cap(monkeypatch):
    monkeypatch.setattr(udf, "_OUT_BUDGET_ROWS", 10)
    batches = list(udf.map_batches(iter(_input(100, 7)), _OUT, _fan))
    assert len(batches) > 5
    assert all(b.num_rows <= 10 for b in batches)
    assert _rows(batches) == [r for i in range(100) for r in _fan(i)]


def test_map_batches_flushes_on_byte_budget(monkeypatch):
    budget = 40
    monkeypatch.setattr(udf, "_OUT_BUDGET_BYTES", budget)
    batches = list(udf.map_batches(iter(_input(100, 7)), _OUT, _fan))
    assert len(batches) > 5
    row_max = max(len(r[1]) + len(r[2]) for i in range(100) for r in _fan(i))
    for b in batches:
        rows = _rows([b])
        sized = sum(len(r[1]) + len(r[2]) for r in rows)
        # budget plus one row: the row that crossed it closes the batch
        assert sized <= budget + row_max
        assert sum(len(r[1]) + len(r[2]) for r in rows[:-1]) < budget
    assert _rows(batches) == [r for i in range(100) for r in _fan(i)]


def test_map_batches_nulls_and_empty_input():
    def nulls(i):
        yield i, None, None, None

    out = _rows(udf.map_batches(iter(_input(5, 2)), _OUT, nulls))
    assert out == [(i, None, None, None) for i in range(5)]
    assert list(udf.map_batches(iter([]), _OUT, nulls)) == []
    # input nulls reach fn as None
    seen = []
    batch = pa.RecordBatch.from_pydict({"id": [1, None, 3]})
    list(udf.map_batches(iter([batch]), _OUT, lambda i: seen.append(i) or ()))
    assert seen == [1, None, 3]


def test_map_batches_propagates_exceptions():
    def boom(i):
        raise KeyError(i)

    with pytest.raises(KeyError):
        list(udf.map_batches(iter(_input(3, 3)), _OUT, boom))


def test_output_budget_counts_markdown(monkeypatch):
    rec = extract_page(_PAGE, mode="all")
    assert rec["extracted_md"]
    # one page stays under the budget unless its markdown is counted;
    # the budget counts the str/binary OUTPUT values
    without_md = sum(
        len(v) for v in ("u1", rec["extracted_text"], rec["article_text"],
                         rec["status"], rec["primary_script"])
        if v is not None
    )
    monkeypatch.setattr(udf, "_OUT_BUDGET_BYTES", without_md + 1)
    batch = pa.RecordBatch.from_pydict({"url": ["u1", "u2"], "html": [_PAGE, _PAGE]})
    out = list(udf.extract_batches(iter([batch]), mode="all"))
    assert [b.num_rows for b in out] == [1, 1]
    assert all(b.column("extracted_md")[0].as_py() == rec["extracted_md"] for b in out)


# Kernels that do NumPy work over a whole batch, group or partition,
# where a per-row scaffold would be slower, plus the scaffold itself
# and the extraction entry point (kept by name for tracing).
_DIRECT_KERNELS = {
    ("spark/udf.py", "map_rows"),
    ("spark/udf.py", "attach_extraction"),
    ("functions/textops.py", "simhash64"),
    # connected components of a whole partition's (id, grp) rows
    ("functions/textops.py", "_contract_partitions"),
    ("functions/simsearch.py", "_assign_arrow"),
    ("functions/simsearch.py", "_update_partials_arrow"),
    ("functions/simsearch.py", "_lsh_codes"),
    ("functions/simsearch.py", "embedding_dedup"),
    ("functions/simsearch.py", "semdedup"),
}


def test_row_kernels_go_through_the_scaffold():
    pkg = Path(udf.__file__).resolve().parent.parent
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                owner = getattr(top, "name", None)
                # no test doubles or unimplemented stubs in the library
                if isinstance(node, ast.ClassDef) and node.name.startswith(
                    ("Fake", "Stub", "Mock", "Dummy")
                ):
                    bad.append(f"{rel}:{node.lineno} class {node.name}")
                if isinstance(node, ast.Raise) and node.exc is not None:
                    exc = node.exc.func if isinstance(
                        node.exc, ast.Call) else node.exc
                    if getattr(exc, "id", None) == "NotImplementedError":
                        bad.append(f"{rel}:{node.lineno} {owner}: "
                                   "raise NotImplementedError")
                # no pandas in the library: every kernel speaks Arrow
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    mods = ([a.name for a in node.names]
                            if isinstance(node, ast.Import)
                            else [node.module or ""])
                    bad += [f"{rel}:{node.lineno} {owner}: import {m}"
                            for m in mods if m.split(".")[0] == "pandas"]
                    continue
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)):
                    continue
                name = node.func.attr
                if name in ("mapInPandas", "applyInPandas",
                            "applyInPandasWithState") or (
                    name in ("mapInArrow", "applyInArrow")
                    and (rel, owner) not in _DIRECT_KERNELS
                ):
                    bad.append(f"{rel}:{node.lineno} {owner}: .{name}(")
    assert bad == []


# Defaulted public parameters that no library, job, tool or bench call
# site passes, kept on purpose: (module, function) -> (parameters,
# reason); "*" covers every function of a module.
_TEST_REACH = {
    ("functions/simsearch.py", "lsh_topk"): (
        {"dim", "n_tables", "n_candidates"},
        "dim describes the input; several tables only past 16 planes "
        "(~16M vectors); n_candidates spares the count job at scale"),
    ("functions/simsearch.py", "embedding_dedup"): (
        {"dim", "n_tables", "n_candidates"},
        "same occupancy settings as lsh_topk"),
    ("spark/pipeline.py", "run_pipeline"): (
        {"table_provider"}, "a deployment setting"),
    ("functions/textops.py", "span_dedup"): (
        {"hot_min_count"}, "tests reach the hot-key broadcast on tiny corpora"),
    ("functions/textops.py", "tfidf_keywords"): (
        {"max_df_frac"}, "tests reach a mid-df token on tiny corpora"),
    ("functions/urlops.py", "host_link_edges"): (
        {"links_col"}, "the pipeline's own output names it content_links"),
    ("functions/textops.py", "linear_quality_score"): (
        {"weights", "bias"}, "the trained model a deployment supplies"),
    ("spark/corpus.py", "*"): (None, "test-data builders"),
    ("spark/evalcorpus.py", "*"): (None, "test-data builders"),
}


def _defaulted(fn):
    """(parameter, positional index or None) for each defaulted
    parameter of a function definition."""
    pos = fn.args.posonlyargs + fn.args.args
    out = [(a, i) for i, a in enumerate(pos)
           if i >= len(pos) - len(fn.args.defaults)]
    return out + [(a, None) for a, d in zip(fn.args.kwonlyargs,
                                            fn.args.kw_defaults)
                  if d is not None]


def test_public_parameters_have_a_caller():
    """Every defaulted parameter of a top-level public function in
    dce_spark/ is passed, by keyword or by position, at some call site
    outside the tests and examples; a setting only tests reach is a
    constant with extra steps."""
    pkg = Path(udf.__file__).resolve().parent.parent
    root = pkg.parent
    calls: dict = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("tests/", "examples/", "perfbench/tests/", ".")):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", None) or getattr(
                    node.func, "attr", None)
                calls.setdefault(name, []).append(node)

    def passed(call, arg, i):
        return (
            (i is not None and len(call.args) > i)
            or any(isinstance(a, ast.Starred) for a in call.args)
            or any(k.arg in (arg, None) for k in call.keywords)
        )

    unreached, kept = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            for a, i in _defaulted(fn):
                if any(passed(c, a.arg, i) for c in calls.get(fn.name, [])):
                    continue
                if (rel, "*") in _TEST_REACH:
                    continue
                allowed = _TEST_REACH.get((rel, fn.name), (set(), ""))[0]
                if a.arg in allowed:
                    kept.add((rel, fn.name, a.arg))
                else:
                    unreached.append(f"{rel} {fn.name}({a.arg})")
    assert unreached == []
    # no stale exceptions: each listed parameter exists and is unreached
    listed = {(rel, fn, p) for (rel, fn), (ps, _) in _TEST_REACH.items()
              if fn != "*" for p in ps}
    assert listed == kept


# Public functions that no library, job, tool or bench code calls, kept
# on purpose: (module, function) -> reason.
_CALLERLESS = {
    ("spark/pipeline.py", "read_extracted"):
        "the read half of the bucket-committed layout contract",
    ("spark/corpus.py", "write_bucketed_pages"):
        "the write half of the bucket-committed layout contract",
    ("functions/multimodal.py", "pdf_text"):
        "the pipeline's PDF/layout parse leg",
    ("spark/evaljob.py", "mean_scores"): "the evaluation example's summary",
    ("spark/warc.py", "write_wet_shards"): "the WET-publishing example's sink",
}


def test_public_functions_have_a_caller():
    """Every top-level public function in dce_spark/ is called or
    referenced somewhere outside the tests and examples; a function only
    tests reach is test code on a library path."""
    pkg = Path(udf.__file__).resolve().parent.parent
    root = pkg.parent
    used = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel.startswith(("tests/", "examples/", "perfbench/tests/", ".")):
            continue
        # a call's callee is itself a Name or an Attribute node
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)

    unused, kept = [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            if fn.name in used:
                continue
            if (rel, fn.name) in _CALLERLESS:
                kept.add((rel, fn.name))
            else:
                unused.append(f"{rel} {fn.name}")
    assert unused == []
    # no stale exceptions: each listed function exists and is callerless
    assert set(_CALLERLESS) == kept
