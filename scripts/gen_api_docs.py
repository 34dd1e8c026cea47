#!/usr/bin/env python
"""Generate the API reference under docs/api/ from live docstrings.

The reference ships a Sphinx tree (ref ``docs/source/api`` — ~30 rst
files rendering the package surface); this repo's environment has no
doc toolchain to install, so the reference is generated by a
dependency-free walker: one markdown file per module with the module
docstring, public classes (with method signatures + first docstring
paragraph), and public functions. Deterministic output —
``tests/test_docs.py::test_api_reference_is_current`` regenerates into
a tempdir and diffs, so a docstring or signature change without a
re-run fails CI (the committed tree IS the built artifact).

Usage: python scripts/gen_api_docs.py [--check]
"""

from __future__ import annotations

import argparse
import importlib
import inspect
import os
import pkgutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT_PACKAGE = "postbound_spark"
#: modules whose import would start heavyweight machinery or that are
#: JVM-side resources rather than Python API surface
SKIP = {"postbound_spark.jvm"}


def _first_paragraph(doc: str | None) -> str:
    if not doc:
        return ""
    return inspect.cleandoc(doc).split("\n\n", 1)[0].replace("\n", " ")


def _signature(obj) -> str:
    try:
        return str(inspect.signature(obj))
    except (TypeError, ValueError):
        return "(...)"


def _public_members(module):
    names = getattr(module, "__all__", None)
    if names is None:
        names = [n for n in vars(module) if not n.startswith("_")]
    out = []
    for name in sorted(names):
        obj = getattr(module, name, None)
        if obj is None:
            continue
        # only document objects DEFINED here (re-exports render in their
        # home module; the optimizer/__init__ aggregate lists names only)
        if getattr(obj, "__module__", None) != module.__name__:
            continue
        out.append((name, obj))
    return out


def render_module(module) -> str:
    lines = [f"# `{module.__name__}`", ""]
    if module.__doc__:
        lines += [inspect.cleandoc(module.__doc__), ""]
    classes = [(n, o) for n, o in _public_members(module) if inspect.isclass(o)]
    functions = [
        (n, o) for n, o in _public_members(module) if inspect.isfunction(o)
    ]
    for name, cls in classes:
        lines += [f"## class `{name}{_signature(cls)}`", ""]
        para = _first_paragraph(cls.__doc__)
        if para:
            lines += [para, ""]
        for mname, meth in sorted(vars(cls).items()):
            if mname.startswith("_") or not callable(meth):
                continue
            fn = meth.__func__ if isinstance(meth, (classmethod, staticmethod)) else meth
            if not (inspect.isfunction(fn) or inspect.ismethod(fn)):
                continue
            lines += [f"### `{name}.{mname}{_signature(fn)}`", ""]
            mpara = _first_paragraph(fn.__doc__)
            if mpara:
                lines += [mpara, ""]
    for name, fn in functions:
        lines += [f"## `{name}{_signature(fn)}`", ""]
        para = _first_paragraph(fn.__doc__)
        if para:
            lines += [para, ""]
    return "\n".join(lines).rstrip() + "\n"


def iter_modules():
    root = importlib.import_module(ROOT_PACKAGE)
    yield root
    for info in pkgutil.walk_packages(root.__path__, prefix=f"{ROOT_PACKAGE}."):
        if any(info.name == s or info.name.startswith(s + ".") for s in SKIP):
            continue
        yield importlib.import_module(info.name)


def generate(out_dir: str) -> dict[str, str]:
    files: dict[str, str] = {}
    index = ["# API reference — `postbound_spark`", "",
             "Generated by `scripts/gen_api_docs.py` from live docstrings; "
             "regenerate after changing any public signature or docstring "
             "(`tests/test_docs.py` diffs the committed tree against a "
             "fresh build).", ""]
    for module in sorted(iter_modules(), key=lambda m: m.__name__):
        fname = module.__name__.replace(".", "_") + ".md"
        files[fname] = render_module(module)
        hook = _first_paragraph(module.__doc__).split(". ")[0][:100]
        index.append(f"- [`{module.__name__}`]({fname}) — {hook}")
    files["index.md"] = "\n".join(index).rstrip() + "\n"
    os.makedirs(out_dir, exist_ok=True)
    for fname, text in files.items():
        with open(os.path.join(out_dir, fname), "w") as fh:
            fh.write(text)
    # pages of deleted modules go with them
    for fname in set(os.listdir(out_dir)) - set(files):
        if fname.endswith(".md"):
            os.remove(os.path.join(out_dir, fname))
    return files


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--check", action="store_true",
                    help="exit 1 if docs/api is stale instead of writing")
    ap.add_argument("--out", default="docs/api")
    ns = ap.parse_args()
    if not ns.check:
        files = generate(ns.out)
        print(f"{len(files)} files -> {ns.out}")
        return
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        fresh = generate(tmp)
    stale = []
    for fname, text in fresh.items():
        path = os.path.join(ns.out, fname)
        if not os.path.exists(path) or open(path).read() != text:
            stale.append(fname)
    committed = set(os.listdir(ns.out)) if os.path.isdir(ns.out) else set()
    extra = committed - set(fresh)
    if stale or extra:
        print(f"stale: {sorted(stale)[:10]}; orphaned: {sorted(extra)[:10]}")
        sys.exit(1)
    print("docs/api is current")


if __name__ == "__main__":
    main()
