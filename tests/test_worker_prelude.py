"""The worker prelude (`io.worker_prelude`): every Arrow kernel the engine
ships calls it first, and once per Python worker it stat-gates
``zipimport.zipimporter.invalidate_caches`` so a task no longer re-reads
``pyspark.zip`` on PySpark's per-task ``importlib.invalidate_caches()``."""

import ast
import re
import subprocess
import sys
from pathlib import Path

import pandas as pd

import mapreduce_machine_learning_spark as pkg
from mapreduce_machine_learning_spark.io import worker_prelude
from mapreduce_machine_learning_spark.operators import llm
from tests.conftest import SF_DIR

_ARROW_CALLS = {"mapInPandas", "applyInPandas", "applyInPandasWithState"}
_FACTORY = re.compile(r"_?make_\w*kernel$")


def _calls_prelude_first(fn):
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    first = body[0]
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and isinstance(first.value.func, ast.Name)
        and first.value.func.id == "worker_prelude"
        and not first.value.args
    )


def _is_pandas_udf(dec):
    f = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(f, "id", getattr(f, "attr", None)) == "pandas_udf"


def _is_factory_call(node):
    return (
        isinstance(node, ast.Call)
        and _FACTORY.match(getattr(node.func, "id", getattr(node.func, "attr", "")))
        is not None
    )


def test_every_arrow_kernel_calls_the_prelude_first():
    """Static check over the engine source. A kernel is the def a kernel
    factory (`make_*kernel`) returns, a def decorated with `pandas_udf`,
    or a def passed by name to `mapInPandas` / `applyInPandas` /
    `applyInPandasWithState`; each must call `worker_prelude()` as its
    first statement. Any other argument of those calls must be a factory
    product (a factory call, or a name bound to one) or a parameter, so
    no kernel reaches Spark unchecked."""
    trees = {
        path.name: ast.parse(path.read_text())
        for path in sorted(Path(pkg.__file__).parent.rglob("*.py"))
    }
    bound = set()  # names bound to a factory product, package-wide
    for _ in range(2):  # a name bound to a bound name (`kernel = sig_batches`)
        for tree in trees.values():
            for node in ast.walk(tree):
                if not isinstance(node, ast.Assign):
                    continue
                for tgt in node.targets:
                    pairs = (
                        zip(tgt.elts, node.value.elts)
                        if isinstance(tgt, ast.Tuple)
                        and isinstance(node.value, ast.Tuple)
                        else [(tgt, node.value)]
                    )
                    for t, v in pairs:
                        if isinstance(t, ast.Name) and (
                            _is_factory_call(v)
                            or (isinstance(v, ast.Name) and v.id in bound)
                        ):
                            bound.add(t.id)
    kernels, factories, unresolved = {}, set(), []
    for name, tree in trees.items():
        defs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for fn in defs:
            inner = {n.name: n for n in ast.walk(fn) if isinstance(n, ast.FunctionDef)}
            if _FACTORY.match(fn.name):
                factories.add(fn.name)
                ret = fn.body[-1]  # `return kernel`
                kernels[(name, fn.name, ret.value.id)] = inner[ret.value.id]
            if any(_is_pandas_udf(d) for d in fn.decorator_list):
                kernels[(name, fn.name)] = fn
            params = {a.arg for a in fn.args.args}
            for call in ast.walk(fn):
                if not (
                    isinstance(call, ast.Call)
                    and getattr(call.func, "attr", None) in _ARROW_CALLS
                ):
                    continue
                arg = call.args[0]
                if isinstance(arg, ast.Name) and arg.id in inner:
                    kernels[(name, fn.name, arg.id)] = inner[arg.id]
                elif not (
                    _is_factory_call(arg)
                    or (isinstance(arg, ast.Name) and arg.id in bound | params)
                ):
                    unresolved.append((name, fn.name, ast.unparse(arg)))
    assert not unresolved, unresolved
    assert {
        "_make_band_kernel",
        "_make_score_kernel",
        "_make_sig_kernel",
        "_make_lsh_probe_kernel",
        "_make_ivf_probe_kernel",
        "make_cell_probe_kernel",
        "make_components_kernel",
    } <= factories
    missing = sorted(k for k, fn in kernels.items() if not _calls_prelude_first(fn))
    assert not missing, missing
    assert len(kernels) >= 18, sorted(kernels)


_SEMANTICS = """
import importlib, pickle, sys, zipfile, zipimport

sys.modules["mapreduce_machine_learning_spark"] = None
blob = open(sys.argv[1], "rb").read()
prelude = pickle.loads(blob)
zpath = sys.argv[2]

def write(names):
    with zipfile.ZipFile(zpath, "w") as zf:
        for n in names:
            zf.writestr(n + ".py", "X = %r\\n" % n)

write(["m1"])
sys.path.insert(0, zpath)
import m1
importer = sys.path_importer_cache[zpath]
assert isinstance(importer, zipimport.zipimporter)
original = zipimport.zipimporter.invalidate_caches

prelude()  # outside a task: leaves the import machinery alone
assert zipimport.zipimporter.invalidate_caches is original

from pyspark import TaskContext
TaskContext._getOrCreate()  # what the worker sets up before a task
prelude()
gated = zipimport.zipimporter.invalidate_caches
assert gated is not original and gated.stat_gated

files = importer._files
importlib.invalidate_caches()
assert importer._files is files, "an unchanged archive was re-read"

write(["m1", "m2"])
importlib.invalidate_caches()
assert importer._files is not files
import m2
assert m2.X == "m2"

pickle.loads(blob)()  # a later task ships its own copy
prelude()
assert zipimport.zipimporter.invalidate_caches is gated, "wrapped twice"
print("ok")
"""


def test_prelude_semantics_in_a_fresh_interpreter(tmp_path):
    """The stat gate, run where its patch cannot leak into this process:
    an unchanged archive keeps its directory, a rewritten one is re-read
    (its new module imports), nothing is installed outside a task, and a
    second install does not wrap the method again. The prelude arrives
    by value, as a worker receives it."""
    from pyspark import cloudpickle

    blob = tmp_path / "prelude.pkl"
    blob.write_bytes(cloudpickle.dumps(worker_prelude))
    proc = subprocess.run(
        [sys.executable, "-c", _SEMANTICS, str(blob), str(tmp_path / "mods.zip")],
        cwd=tmp_path,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0 and proc.stdout.strip() == "ok", proc.stderr


def test_band_kernel_gates_its_worker(spark):
    """Live: a Python worker that has run the band kernel carries the
    gate, and the driver does not. The jobs run in a fresh one-worker pool
    (a Spark worker pool is keyed by the UDF environment), so the probe
    before and after the band job lands on the same worker process."""
    import zipimport

    from mapreduce_machine_learning_spark.io import load_table as T

    def probe(it):
        import os
        import zipimport

        for _ in it:
            pass
        gate = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame(
            {"pid": [os.getpid()], "gated": [getattr(gate, "stat_gated", False)]}
        )

    def report():
        (row,) = (
            spark.range(1, numPartitions=1)
            .mapInPandas(probe, "pid long, gated boolean")
            .collect()
        )
        return row.pid, row.gated

    env = spark.sparkContext.environment
    env["MRML_PRELUDE_TEST_POOL"] = "1"
    try:
        before = report()
        bands = (
            T(spark, SF_DIR, "documents")
            .select("doc_id", "text")
            .coalesce(1)
            .mapInPandas(llm.minhash_band_batches, schema=llm.BANDS_SCHEMA)
            .count()
        )
        after = report()
    finally:
        del env["MRML_PRELUDE_TEST_POOL"]
    assert bands > 0
    assert before[0] == after[0], "the probes ran in different workers"
    assert (before[1], after[1]) == (False, True)
    assert not getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
