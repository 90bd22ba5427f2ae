"""The C kernel (webx/_ctok.c) under AddressSanitizer + UBSan.

A fault in the kernel kills the Python worker, and no ``except`` can
catch that, so memory safety is checked directly: a copy of ``webx/``
gets an instrumented ``_ctok.so`` (``ctokenize`` reuses a ``.so`` newer
than its source), and a subprocess with the sanitizer runtimes
preloaded drives it through every non-Spark test of
tests/test_ctokenize.py (the crafted corners and the hypothesis
differential fuzz) and extracts every gnarly fixture page. Any
sanitizer report aborts the subprocess."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)

SCRIPT = r"""
import glob, inspect, os, sys
copy, tests = sys.argv[1], sys.argv[2]
sys.path[:0] = [copy, tests]
import pandas as pd
import webx.ctokenize as ck
assert ck.AVAILABLE and ck._SO.startswith(copy), ck._SO
import test_ctokenize as T

ran = 0
for name, fn in list(vars(T).items()):
    if not name.startswith("test_") or not callable(fn):
        continue
    params = [m for m in getattr(fn, "pytestmark", []) if m.name == "parametrize"]
    if params:
        for v in params[0].args[1]:
            fn(v)
        ran += 1
    elif not inspect.signature(fn).parameters:  # no fixtures: no Spark
        fn()
        ran += 1

from webx.config import ExtractConfig
from webx.extract import extract_batch
pages = sorted(glob.glob(os.path.join(tests, "fixtures", "gnarly", "*.html")))
pdf = pd.DataFrame({"url": pages, "html": [open(p, "rb").read() for p in pages]})
out = extract_batch(pdf, ExtractConfig(ckernels="require"))
print("tests", ran, "pages", len(out), dict(out["status"].value_counts()))
"""


def _runtime(name: str):
    try:
        path = subprocess.run(
            ["gcc", f"-print-file-name={name}"], capture_output=True, text=True
        ).stdout.strip()
    except OSError:
        return None
    return path if os.path.isabs(path) and os.path.exists(path) else None


def test_ckernel_clean_under_asan_ubsan(tmp_path):
    asan, ubsan = _runtime("libasan.so"), _runtime("libubsan.so")
    if not (asan and ubsan):
        pytest.skip("gcc sanitizer runtimes (libasan/libubsan) not installed")
    copy = tmp_path / "copy"
    shutil.copytree(
        os.path.join(REPO, "webx"), copy / "webx",
        ignore=shutil.ignore_patterns("_ctok.so", "__pycache__"),
    )
    subprocess.run(
        ["gcc", "-O1", "-g", "-fno-omit-frame-pointer",
         "-fsanitize=address,undefined", "-ffp-contract=off", "-fPIC", "-shared",
         "-o", str(copy / "webx" / "_ctok.so"), str(copy / "webx" / "_ctok.c")],
        check=True,
    )
    env = dict(
        os.environ,
        LD_PRELOAD=f"{asan} {ubsan}",
        ASAN_OPTIONS="detect_leaks=0",
        UBSAN_OPTIONS="halt_on_error=1:print_stacktrace=1",
    )
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(copy), TESTS],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert "ERROR: AddressSanitizer" not in res.stderr
    assert "runtime error:" not in res.stderr
    assert "pages 50" in res.stdout, res.stdout
