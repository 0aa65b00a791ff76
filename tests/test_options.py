"""No option with one value in use.

Parses the package and every caller of it (``tests/``, ``perfbench/``,
``bench.py``, ``scale_probe.py``, ``__spark_entry__.py``) with ``ast`` and
matches each call to the package's module-level functions and methods by
name. A parameter is reported when

- it has a default and no call sets it, or
- every call passes it the same literal (a call that leaves a defaulted
  parameter out passes its default).

A call that spreads ``*args`` or ``**kwargs`` sets every parameter it could
reach to an unknown value. A call through a local alias
(``for fn in (f, g): fn(...)``) is a call of each function the alias
names. A function referenced any other way is called by code the scan
cannot see, so its parameters count as set.

A reported parameter is a constant written as an option: write its value
into the function. ``ALLOWED`` lists the parameters kept anyway, each with
its reason. A parameter that only a test sets to a second value is
reported by the scan without ``tests/``, so it too needs an entry.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "multi_source_financial_data_pipeline_spark"
CALLER_DIRS = ("tests", "perfbench")
CALLER_FILES = ("bench.py", "scale_probe.py", "__spark_entry__.py")

#: (module relative to the package, qualified function name, parameter)
#: -> why it stays. A reason starting "test:" names the test's value.
ALLOWED: dict[tuple[str, str, str], str] = {
    # interfaces whose callers are not in this repository
    ("sources/market_source.py", "MarketTickStreamReader.readBetweenOffsets", "start"):
        "interface: Spark's DataSourceStreamReader calls it with offsets",
    ("sources/market_source.py", "MarketTickStreamReader.readBetweenOffsets", "end"):
        "interface: Spark's DataSourceStreamReader calls it with offsets",
    ("operators/grouped.py", "cusum_last", "value_col"):
        "interface: the four grouped folds share one positional signature, "
        "and the fold-family tests call them through one loop",
    ("operators/grouped.py", "macd_last", "value_col"):
        "interface: the four grouped folds share one positional signature, "
        "and the fold-family tests call them through one loop",
    # deployment settings
    ("session.py", "get_spark", "shuffle_partitions"):
        "deployment: the test session runs 8 shuffle partitions",
    # a test sets a second value to reach a fake, a guard or another shape
    ("pipeline.py", "run_pipeline", "run_ts"):
        "test: a fixed run clock for golden outputs",
    ("sources/market_source.py", "read_with_skip_report", "tracker"):
        "test: an ErrorTracker to count skipped tickers",
    ("sources/synthetic.py", "macro_series", "series"):
        "test: two series for the pinned report values",
    ("sources/synthetic.py", "macro_series", "n_periods"):
        "test: 6 periods for the pinned report values",
    ("operators/dedup.py", "lsh_candidate_pairs", "max_bucket_size"):
        "test: 10 to reach the bucket-size guard",
    ("operators/grouped.py", "ewma_last", "max_rows"):
        "test: 10 to reach the per-key history guard",
    ("operators/grouped.py", "macd_last", "max_rows"):
        "test: 10 to reach the per-key history guard",
    ("operators/grouped.py", "ewma_last", "ts_col"):
        "test: 'day' and 'bar_ts' series",
    ("operators/grouped.py", "ewma_last", "tiebreak"):
        "test: None to reach the unique-order guard",
    ("operators/grouped.py", "ewma_last", "value_col"):
        "test: 'close_value' of resampled bars",
    ("operators/grouped.py", "cusum_last", "ts_col"):
        "test: 'day' series",
    ("operators/grouped.py", "cusum_last", "tiebreak"):
        "test: None to reach the unique-order guard",
    ("operators/grouped.py", "macd_last", "ts_col"):
        "test: 'day' series",
    ("operators/grouped.py", "macd_last", "tiebreak"):
        "test: None to reach the unique-order guard",
    ("operators/grouped.py", "wilder_last", "value_col"):
        "test: 'value' series with a duplicated day",
    ("operators/timeseries.py", "resample_bars", "exact_sum"):
        "test: False for the plain double sum",
    ("operators/timeseries.py", "timeseries_features", "key"):
        "test: the pandas-parity ticker frame",
    ("operators/timeseries.py", "timeseries_features", "order"):
        "test: the pandas-parity ticker frame",
    ("operators/timeseries.py", "timeseries_features", "value"):
        "test: the pandas-parity ticker frame",
    ("operators/timeseries.py", "timeseries_features", "ma_windows"):
        "test: the pandas-parity ticker frame",
    ("operators/timeseries.py", "timeseries_features", "vol_window"):
        "test: the pandas-parity ticker frame",
    ("operators/sessions.py", "asof_join", "key"):
        "test: property-based frames keyed on 'key'",
    ("operators/sessions.py", "bucketed_range_join", "key"):
        "test: property-based frames keyed on 'key'",
    ("operators/sessions.py", "sessionize", "key"):
        "test: property-based frames keyed on 'user'",
    ("operators/crossval.py", "first_request_wins", "key"):
        "test: the pandas-parity (ticker, date) key",
    ("operators/packing.py", "concat_chunk_packing", "shard_col"):
        "test: a single 'source' shard column",
    ("operators/validation.py", "snapshot_diff", "key"):
        "test: a toy frame keyed on 'k'",
    ("operators/skew.py", "salted_agg", "num_salts"):
        "test: 8 salts",
    ("operators/skew.py", "skew_split_join", "how"):
        "test: 'left' join",
    ("streaming/ingest.py", "dedup_with_watermark", "key_cols"):
        "test: dedup on 'event_id'",
    ("streaming/ingest.py", "dedup_with_watermark", "late_threshold"):
        "test: a '30 days' watermark for the restart test",
    ("operators/similarity.py", "brute_force_topk", "vec_col"):
        "test: a column name with a space",
    ("operators/similarity.py", "build_pq_index", "id_col"):
        "test: renamed vector frames",
    ("operators/similarity.py", "build_pq_index", "vec_col"):
        "test: renamed vector frames",
    ("operators/similarity.py", "pq_adc_topk", "id_col"):
        "test: renamed vector frames",
    ("operators/similarity.py", "pq_adc_topk", "query_id_col"):
        "test: renamed vector frames",
    ("operators/similarity.py", "pq_adc_topk", "vec_col"):
        "test: renamed vector frames",
    ("operators/similarity.py", "pq_encode", "vec_col"):
        "test: the default 'embedding' column",
    ("operators/similarity.py", "dot", "a"):
        "test: 'qv' against the oracle expression",
    ("operators/similarity.py", "ivf_index_upsert", "deletes"):
        "test: a delete batch",
    ("operators/similarity.py", "pq_index_upsert", "deletes"):
        "test: a delete batch",
    ("operators/text.py", "token_lr_score", "check_model"):
        "test: the default True to reach the model-width guard",
    ("operators/multimodal.py", "decode_media_features", "batch_size"):
        "test: 16 and 64 rows per Arrow batch",
    ("operators/jpegcodec.py", "jpeg_encode", "restart_interval"):
        "test: 2 to reach the restart-marker path",
    ("operators/containers.py", "vorbis_id_packet", "bitrate_nominal"):
        "test: 128000 for the parser round trip",
    ("operators/containers.py", "opus_id_packet", "output_gain_q8"):
        "test: -128 for the signed-gain parse",
}

_UNKNOWN = object()


def _py_files(root: str):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__")))
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


class _Def:
    def __init__(self, module: str, qualname: str, node, is_method: bool):
        self.module = module
        self.qualname = qualname
        args = node.args
        params = [*args.posonlyargs, *args.args]
        if is_method and not any(
            isinstance(d, ast.Name) and d.id == "staticmethod"
            for d in node.decorator_list
        ):
            params = params[1:]
        self.positional = [a.arg for a in params]
        defaults = dict(
            zip([a.arg for a in params][len(params) - len(args.defaults):], args.defaults)
        )
        for a, d in zip(args.kwonlyargs, args.kw_defaults):
            if d is not None:
                defaults[a.arg] = d
        self.defaults = defaults
        self.names = self.positional + [a.arg for a in args.kwonlyargs]


def _package_defs() -> list[_Def]:
    """Module-level functions and methods of module-level classes."""
    out = []
    root = os.path.join(REPO, PACKAGE)
    for path in _py_files(root):
        module = os.path.relpath(path, root)
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.append(_Def(module, node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        out.append(_Def(module, f"{node.name}.{item.name}", item, True))
    return out


def _caller_files(with_tests: bool) -> list[str]:
    files = list(_py_files(os.path.join(REPO, PACKAGE)))
    for d in CALLER_DIRS:
        if d == "tests" and not with_tests:
            continue
        files.extend(_py_files(os.path.join(REPO, d)))
    files.extend(os.path.join(REPO, f) for f in CALLER_FILES)
    return files


def _callee_name(func) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _is_literal(node) -> bool:
    try:
        ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return False
    return True


def _refs(node) -> list[str] | None:
    """The function names a value refers to: a name, a conditional choice
    between two, or a tuple or list of them; None for any other value."""
    if isinstance(node, (ast.Name, ast.Attribute)):
        return [_callee_name(node)]
    if isinstance(node, ast.IfExp):
        a, b = _refs(node.body), _refs(node.orelse)
        return a + b if a is not None and b is not None else None
    if isinstance(node, (ast.Tuple, ast.List)):
        out = [_refs(e) for e in node.elts]
        return sum(out, []) if all(o is not None for o in out) else None
    return None


def _calls(files: list[str]):
    """(callee name, call node) for every call, and the names
    referenced any other way. A call through a local alias
    (``for fn in (f, g): fn(...)``, ``fn = f if c else g``) is a call of
    each name the alias takes."""
    calls, escaped = [], set()
    for path in files:
        tree = _parse(path)
        alias: dict[str, list[str]] = {}
        bound: set[int] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.For):
                target, value = node.target, node.iter
            elif isinstance(node, ast.Assign) and len(node.targets) == 1:
                target, value = node.targets[0], node.value
            else:
                continue
            names = _refs(value) if isinstance(target, ast.Name) else None
            if names:
                alias[target.id] = names
                bound.update(id(n) for n in ast.walk(value))
        # a call's callee, or an object whose attribute is read
        callees = {
            id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Attribute)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                callees.add(id(node.func))
                name = _callee_name(node.func)
                if isinstance(node.func, ast.Name) and name in alias:
                    calls.extend((n, node) for n in alias[name])
                elif name is not None:
                    calls.append((name, node))
        stored = {
            n.id for n in ast.walk(tree)
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load)
        } | {n.arg for n in ast.walk(tree) if isinstance(n, ast.arg)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                or isinstance(node, ast.Name) and node.id not in stored
            ) and (
                isinstance(node.ctx, ast.Load)
                and id(node) not in callees
                and id(node) not in bound
            ):
                escaped.add(_callee_name(node))
    return calls, escaped


def _values(d: _Def, call: ast.Call) -> dict[str, object]:
    """The expression each parameter of ``d`` receives from ``call``;
    ``_UNKNOWN`` where a spread could reach it, absent where not set."""
    out: dict[str, object] = {}
    spread_pos = any(isinstance(a, ast.Starred) for a in call.args)
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            break
        if i < len(d.positional):
            out[d.positional[i]] = arg
    for kw in call.keywords:
        if kw.arg is None:
            return {n: out.get(n, _UNKNOWN) for n in d.names}
        out[kw.arg] = kw.value
    if spread_pos:
        for n in d.positional:
            out.setdefault(n, _UNKNOWN)
    return out


def scan(with_tests: bool) -> dict[tuple[str, str, str], str]:
    """Every reported parameter, with what the scan saw."""
    defs = _package_defs()
    by_name = defaultdict(list)
    for d in defs:
        by_name[d.qualname.rsplit(".", 1)[-1]].append(d)
    calls, escaped = _calls(_caller_files(with_tests))
    calls_of = defaultdict(list)
    for name, node in calls:
        if name in by_name:
            calls_of[name].append(node)

    found = {}
    for d in defs:
        short = d.qualname.rsplit(".", 1)[-1]
        if short.startswith("__") or short in escaped:
            continue
        seen = [_values(d, c) for c in calls_of[short]]
        for p in d.names:
            key = (d.module, d.qualname, p)
            given = [v[p] for v in seen if p in v]
            if p in d.defaults and not given:
                found[key] = "defaulted, never set"
                continue
            if not seen or any(v is _UNKNOWN for v in given):
                continue
            effective = [v.get(p, d.defaults.get(p)) for v in seen]
            if any(e is None or not _is_literal(e) for e in effective):
                continue
            dumps = {ast.dump(e) for e in effective}
            if len(dumps) == 1:
                found[key] = f"always {ast.unparse(effective[0])}"
    return found


def test_no_parameter_has_one_value_in_use():
    found = scan(with_tests=True)
    unexplained = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not unexplained, "\n".join(
        f"{m}:{f}({p}) {why}" for (m, f, p), why in sorted(unexplained.items())
    )


def test_allow_list_is_current_and_explained():
    """Each entry is still reported, and an entry kept for a test's value
    is one a test really sets."""
    without_tests = scan(with_tests=False)
    with_tests = scan(with_tests=True)
    stale = sorted(
        k for k in ALLOWED if k not in without_tests and k not in with_tests
    )
    assert not stale, f"allowed but no longer reported: {stale}"
    assert all(reason.split(":", 1)[1].strip() for reason in ALLOWED.values())
    untested = sorted(
        k for k, reason in ALLOWED.items()
        if reason.startswith("test:") and k in with_tests
    )
    assert not untested, f"no test sets a second value: {untested}"
