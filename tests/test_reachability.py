"""Every top-level function and class in the package is reached from an
entry point, or is on an allowlist that says why it stays; every on/off
or optional-branch parameter is set by a caller outside the tests, and
every value a string selector tests for is passed by a caller outside
the tests, or the parameter is on an allowlist that says why it stays.

The scan is pure ``ast`` (no imports, no Spark), name-based and closed
over the package:

- the roots are the registry entry module (``__spark_entry__.py``), the
  benchmarks (``bench.py``, ``perfbench/*.py``), the scripts
  (``scripts/*.py``) and the CLI (``db_loganalyzer_spark/cli.py``); every
  name they mention is reached;
- a name is mentioned by a variable or attribute use, a
  ``from ... import`` alias, or a string constant that is an identifier
  (registry lookups by name);
- a package module's top-level statements other than imports and
  definitions (constants, ``__all__``, import guards) run on import, so
  the names they mention are reached; re-exports in an ``__init__`` are
  imports and reach nothing;
- a reached definition reaches every name in its body, to a fixed point.

Matching is by bare name, so a definition counts as reached when any
reached code mentions its name. The scan therefore over-approximates
reachability: it can miss dead code, but a definition it reports as
unreached is not named anywhere outside the tests.

The option scan covers every parameter defaulted to ``True``, ``False``
or ``None`` of a package function or method (nested ones included),
except in the definitions ``ALLOWED`` keeps. Such a parameter is set
when a call in a root or in package code passes it by keyword or by
position; calls match by bare name (a class name calls its
``__init__``), a method's positions count past ``self``, and a call
with ``*args`` or ``**kwargs`` sets every parameter. Tests do not count.

The selector scan covers every parameter of a package function or
method (same exceptions) whose default is a string and that the
function compares (``==``, ``!=``, ``in``, ``not in``) with string
literals. Each compared literal other than the default must be passed
as that literal by a call in a root or in package code: a
``param="literal"`` keyword in any call, or the literal at the
parameter's position in a call by the function's name. A selector with
a value no such call passes is listed. Tests do not count.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "db_loganalyzer_spark"
ROOT_GLOBS = (
    "__spark_entry__.py",
    "bench.py",
    "db_loganalyzer_spark/cli.py",
    "scripts/*.py",
    "perfbench/*.py",
)

_A = "(a) test support for code a root reaches"
_B = "(b) public codec function pinned by golden-byte and fail-closed tests"
_C = "(c) the only code for a reference capability with a SURVEY §2 row"

# Unreached definitions that stay, keyed "<module>.<name>" (module path
# relative to the package), each with the reason it stays.
ALLOWED = {
    "operators.multimodal.fake_decode_backend": f"{_A}: decode_media's stand-in backend",
    "operators.multimodal._ima_step": f"{_A}: IMA ADPCM fixture encoder",
    "operators.multimodal.encode_adpcm_wav": f"{_A}: IMA ADPCM fixture encoder",
    "operators.multimodal.mulaw_encode_sample": f"{_A}: mu-law fixture encoder",
    "operators.multimodal.encode_mulaw_wav": f"{_A}: mu-law fixture encoder",
    "operators.evaluation.eval_accuracy": f"{_A}: scores the scenario bank (M7)",
    "operators.multimodal.decode_bmp": _B,
    "operators.multimodal.decode_ppm": _B,
    "operators.multimodal.decode_png": _B,
    "operators.multimodal.decode_jpeg": _B,
    "operators.multimodal.decode_gif": _B,
    "operators.multimodal.decode_image_pixels": _B,
    "operators.multimodal.decode_wav": _B,
    "operators.multimodal.decode_avi": _B,
    "operators.multimodal._pixels_to_tuples": f"{_B}: the decode_* functions' pixel list",
    "sources.trace_logs.extract_code_coverage": f"{_C}: M1",
    "operators.clustering.kmeans_clusters": f"{_C}: M4",
    "operators.textstats.token_count_pudf": f"{_C}: A15",
    "agentic.retrieval.load_corpus_dir": f"{_C}: L5",
    "agentic.retrieval.build_corpus_index": f"{_C}: L5",
    "agentic.retrieval.retrieve": f"{_C}: L5",
    "agentic.retrieval.make_retriever": f"{_C}: L5",
}

_OA = "(a) test support for a path an entry point takes"
_OB = "(b) input robustness"
_OC = "(c) the reference path tests compare a reached path against"
_OD = "(d) deployment setting"
_OE = "(e) the hook of an allowlisted definition"
_OF = "(f) the streaming twin of an option a root sets, pinned equal by a test"

# Options no root or package call sets that stay, keyed
# "<module>.<qualified function name>(<parameter>)", with the reason.
OPTIONS_ALLOWED = {
    "agentic.investigation.PhasedInvestigationAgent.__init__(io_log_dir)":
        f"{_OD}: the directory the LLM prompts and answers are written to",
    "detectors.detectors.recovery_loop(bucket_seconds)":
        f"{_OA}: small buckets make a small input cross the halo boundaries",
    "detectors.detectors.cusum_drift(ref)":
        f"{_OC}: the batch form of streaming_cusum's fixed reference",
    "operators.chunking.chunk_summaries(tokenizer)":
        f"{_OE}: token_count_pudf (A15)",
    "operators.multimodal.encode_png(compress_level)":
        f"{_OE}: real-zlib PNGs for decode_png's golden tests",
    "operators.sampling.padded_batches(length_sorted)":
        f"{_OC}: the arrival-order batching the sorted form is measured against",
    "operators.sketches.mix32_sql_select(passthrough)":
        f"{_OA}: keys each hash by its input in the bit-identity test",
    "operators.windows.value_drops(allow_global_order)":
        f"{_OC}: the one-task global window the stitched forms must equal",
    "operators.windows.value_resets(allow_global_order)":
        f"{_OC}: the one-task global window the stitched forms must equal",
    "operators.windows.lag_regressions(allow_global_order)":
        f"{_OC}: the one-task global window rollback_analysis must equal",
    "operators.windows.value_drops_stitched(num_partitions)":
        f"{_OA}: forces several range partitions on a small input",
    "sources.trace_logs.read_trace_events(tolerant_xml)":
        f"{_OB}: pretty-printed XML whose tags span several lines",
    "streaming.streams.streaming_interval_coalesce(half_open)":
        f"{_OF}: coalesce_intervals(half_open=) (w22)",
}

# String selectors with a compared value no root or package call passes
# as a literal, keyed like OPTIONS_ALLOWED, with the reason they stay.
SELECTORS_ALLOWED = {
    "operators.multimodal.encode_jpeg(subsampling)":
        f"{_OA}: the 4:2:0 fixture for decode_jpeg's real-world chroma path",
    "sources.sinks.export_result(format)":
        "the CLI passes it through from argparse choices (cli export --format)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _mentions(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _roots() -> set[Path]:
    return {p for g in ROOT_GLOBS for p in REPO.glob(g)}


@functools.cache
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _modules():
    """(module, relative path, tree) for every package file."""
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE)
        yield ".".join(rel.with_suffix("").parts), rel, _parse(path)


def unreached() -> dict[str, str]:
    """``{"<module>.<name>": "<path>:<line>"}`` for every top-level
    package definition no root reaches."""
    roots = _roots()
    reached: set[str] = set()
    for path in roots:
        reached |= _mentions(_parse(path))
    defs = []  # (key, location, node)
    for module, rel, tree in _modules():
        if PACKAGE / rel in roots:
            continue
        for node in tree.body:
            if isinstance(node, _DEFS):
                key = f"{module}.{node.name}"
                defs.append((key, f"{PACKAGE.name}/{rel}:{node.lineno}", node))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                reached |= _mentions(node)
    pending = defs
    while hit := [d for d in pending if d[2].name in reached]:
        for _, _, node in hit:
            reached |= _mentions(node)
        pending = [d for d in pending if d not in hit]
    return {key: where for key, where, _ in pending}


def _is_option(default) -> bool:
    return isinstance(default, ast.Constant) and (
        default.value is None or isinstance(default.value, bool)
    )


def _defaulted(fn) -> list[tuple[str, int | None, ast.expr]]:
    """(name, position or None for keyword-only, default) of each
    parameter of ``fn`` that has a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, first + i, d) for i, (arg, d) in enumerate(zip(pos[first:], a.defaults))]
    out += [(arg.arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _options(fn) -> list[tuple[str, int | None]]:
    """(name, position or None for keyword-only) of each parameter of
    ``fn`` defaulted to True, False or None."""
    return [(name, i) for name, i, d in _defaulted(fn) if _is_option(d)]


def _functions(node: ast.AST, prefix: str = "", cls: str | None = None):
    """(function node, qualified name, enclosing class name or None) for
    every function or method under ``node``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, _FUNCS):
            yield child, prefix + child.name, cls
            yield from _functions(child, f"{prefix}{child.name}.")
        elif isinstance(child, ast.ClassDef):
            yield from _functions(child, f"{prefix}{child.name}.", child.name)
        else:
            yield from _functions(child, prefix, cls)


def _package_functions():
    """(function node, key, location, call names, self offset) for every
    package function or method outside ``ALLOWED``: a call reaches it by
    its name (a class name calls its ``__init__``), and a method's
    positions count past ``self``."""
    for module, rel, tree in _modules():
        for fn, qual, cls in _functions(tree):
            if f"{module}.{qual.split('.')[0]}" in ALLOWED:
                continue
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in fn.decorator_list
            )
            names = {fn.name} | ({cls} if cls and fn.name == "__init__" else set())
            offset = 1 if cls and not static else 0
            where = f"{PACKAGE.name}/{rel}:{fn.lineno}"
            yield fn, f"{module}.{qual}", where, names, offset


def _option_defs():
    """(key, location, call names, self offset, options) for every
    package function or method with an option, outside ``ALLOWED``."""
    for fn, key, where, names, offset in _package_functions():
        if opts := _options(fn):
            yield key, where, names, offset, opts


def _calls(paths) -> dict[str, list[tuple[int, set[str], bool, Path]]]:
    """Call name -> (positional count, keyword names, star, path) of each
    call in ``paths``."""
    out: dict[str, list] = {}
    for path in paths:
        for n in ast.walk(_parse(path)):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            )
            kws = {k.arg for k in n.keywords}
            out.setdefault(name, []).append((len(n.args), kws, star, path))
    return out


def _setters(calls, names, offset, param, pos) -> set[Path]:
    """The files of the calls in ``calls`` that set ``param``."""
    return {
        path
        for name in names
        for npos, kws, star, path in calls.get(name, ())
        if star or param in kws or (pos is not None and npos + offset > pos)
    }


def unset_options() -> dict[str, tuple]:
    """``{"<module>.<function>(<param>)": (location, call names, self
    offset, param, position)}`` for every option no root or package call
    sets."""
    code = _calls(_roots() | set(PACKAGE.rglob("*.py")))
    return {
        f"{key}({param})": (where, names, offset, param, pos)
        for key, where, names, offset, opts in _option_defs()
        for param, pos in opts
        if not _setters(code, names, offset, param, pos)
    }


_COMPARE_OPS = (ast.Eq, ast.NotEq, ast.In, ast.NotIn)


def _str_literals(node: ast.AST) -> set[str]:
    """The string constants ``node`` is, or holds as a tuple/list/set."""
    items = node.elts if isinstance(node, (ast.Tuple, ast.List, ast.Set)) else [node]
    return {
        e.value for e in items if isinstance(e, ast.Constant) and isinstance(e.value, str)
    }


def _compared_literals(fn, param: str) -> set[str]:
    """The string literals ``fn`` compares ``param`` with."""
    out = set()
    for n in ast.walk(fn):
        if not isinstance(n, ast.Compare) or not all(isinstance(o, _COMPARE_OPS) for o in n.ops):
            continue
        sides = [n.left, *n.comparators]
        if any(isinstance(x, ast.Name) and x.id == param for x in sides):
            for x in sides:
                out |= _str_literals(x)
    return out


def _selectors(fn) -> list[tuple[str, int | None, str]]:
    """(name, position or None for keyword-only, default) of each
    parameter of ``fn`` defaulted to a string."""
    return [
        (name, i, d.value)
        for name, i, d in _defaulted(fn)
        if isinstance(d, ast.Constant) and isinstance(d.value, str)
    ]


def _passed_literals(paths) -> tuple[dict, dict]:
    """(keyword -> string literals passed by it in any call; call name ->
    list of the string literal or None at each position) over ``paths``."""
    by_kw: dict[str, set[str]] = {}
    by_pos: dict[str, list[list]] = {}
    for path in paths:
        for n in ast.walk(_parse(path)):
            if not isinstance(n, ast.Call):
                continue
            for k in n.keywords:
                if k.arg is not None:
                    by_kw.setdefault(k.arg, set()).update(_str_literals(k.value))
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is not None:
                by_pos.setdefault(name, []).append([
                    a.value if isinstance(a, ast.Constant) and isinstance(a.value, str) else None
                    for a in n.args
                ])
    return by_kw, by_pos


def unpassed_selectors() -> dict[str, tuple[str, list[str]]]:
    """``{"<module>.<function>(<param>)": (location, values)}`` for every
    string selector with compared values no root or package call passes."""
    by_kw, by_pos = _passed_literals(_roots() | set(PACKAGE.rglob("*.py")))
    found = {}
    for fn, key, where, names, offset in _package_functions():
        for param, pos, default in _selectors(fn):
            passed = set(by_kw.get(param, ()))
            if pos is not None:
                passed.update(
                    args[pos - offset]
                    for name in names
                    for args in by_pos.get(name, ())
                    if 0 <= pos - offset < len(args) and args[pos - offset]
                )
            if missing := sorted(_compared_literals(fn, param) - {default} - passed):
                found[f"{key}({param})"] = (where, missing)
    return found


def test_every_selector_value_is_passed_or_allowed():
    found = unpassed_selectors()
    new = sorted(set(found) - set(SELECTORS_ALLOWED))
    stale = sorted(set(SELECTORS_ALLOWED) - set(found))
    assert not new, (
        "string selectors that test for a value no entry point or package "
        "call passes (delete the value with its branch, or allowlist the "
        "parameter with a reason):\n"
        + "\n".join(f"  {found[k][0]} {k}: {', '.join(map(repr, found[k][1]))}" for k in new)
    )
    assert not stale, (
        "allowlisted but now passed or gone (drop from SELECTORS_ALLOWED):\n"
        + "\n".join(f"  {k}" for k in stale)
    )


def test_every_option_is_set_or_allowed():
    found = unset_options()
    new = sorted(set(found) - set(OPTIONS_ALLOWED))
    stale = sorted(set(OPTIONS_ALLOWED) - set(found))
    tests = _calls(sorted((REPO / "tests").rglob("*.py"))) if new else {}

    def line(k):
        where, names, offset, param, pos = found[k]
        by = sorted(str(p.relative_to(REPO)) for p in _setters(tests, names, offset, param, pos))
        fn = k.split("(")[0].rsplit(".", 1)[-1]
        return f"  {where} {fn}({param}=)" + (f"  (set by {', '.join(by)})" if by else "")

    assert not new, (
        "options no entry point or package call sets (delete each with "
        "the branch it selects, or allowlist it with a reason):\n"
        + "\n".join(line(k) for k in new)
    )
    assert not stale, (
        "allowlisted but now set or gone (drop from OPTIONS_ALLOWED):\n"
        + "\n".join(f"  {k}" for k in stale)
    )


def test_every_package_definition_is_reached_or_allowed():
    found = unreached()
    new = sorted(set(found) - set(ALLOWED))
    stale = sorted(set(ALLOWED) - set(found))
    assert not new, (
        "reached only by tests (give each a root, delete it, or allowlist "
        "it with a reason):\n" + "\n".join(f"  {found[k]} {k}" for k in new)
    )
    assert not stale, (
        "allowlisted but now reached or gone (drop from ALLOWED):\n"
        + "\n".join(f"  {k}" for k in stale)
    )
