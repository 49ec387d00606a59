"""The closure-compiled evaluator against the full official suite
(mandatory drafts 4/6/7 + optional format/bignum/content + refRemote via
registry + the 2019/2020 keyword files) through ``compile_validator``."""

from __future__ import annotations

import glob
import json
import os

import pytest

from go_jsonschema_spark.interp_compile import compile_validator
from go_jsonschema_spark.spec import SchemaSpec

SUITE_ROOT = "/root/reference/testdata"
SKIP_FILES = {"refRemote.json", "ecmascript-regex.json", "content.json"}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SUITE_ROOT), reason="reference test corpus not present"
)


@pytest.mark.parametrize("draft_dir,draft", [
    ("draft4", 4), ("draft6", 6), ("draft7", 7),
])
def test_compiled_mandatory_suite(draft_dir, draft):
    mismatches = []
    n = 0
    for path in sorted(glob.glob(os.path.join(SUITE_ROOT, draft_dir, "*.json"))):
        if os.path.basename(path) in SKIP_FILES:
            continue
        for group in json.load(open(path)):
            spec = SchemaSpec(group["schema"])
            validate = compile_validator(
                group["schema"], spec=spec, draft=draft, assert_formats=False
            )
            for t in group["tests"]:
                n += 1
                if validate(t["data"]) != t["valid"]:
                    mismatches.append(
                        f"{os.path.basename(path)}: {group['description']}"
                        f" :: {t['description']} (want {t['valid']})"
                    )
    assert not mismatches, f"{len(mismatches)}/{n}:\n" + "\n".join(mismatches[:20])
    assert n > 500


def test_compiled_refremote_and_content():
    remotes_root = os.path.join(SUITE_ROOT, "remotes")
    registry = {}
    for path in glob.glob(os.path.join(remotes_root, "**", "*.json"),
                          recursive=True):
        rel = os.path.relpath(path, remotes_root)
        url = f"http://localhost:1234/{rel}"
        registry[url] = SchemaSpec(json.load(open(path)), base_uri=url)
    mismatches = []
    for group in json.load(
        open(os.path.join(SUITE_ROOT, "draft7", "refRemote.json"))
    ):
        spec = SchemaSpec(group["schema"])
        validate = compile_validator(group["schema"], spec=spec,
                                     registry=registry)
        for t in group["tests"]:
            if validate(t["data"]) != t["valid"]:
                mismatches.append(f"refRemote: {group['description']} :: {t['description']}")
    for group in json.load(
        open(os.path.join(SUITE_ROOT, "draft7", "optional", "content.json"))
    ):
        validate = compile_validator(group["schema"])
        for t in group["tests"]:
            if validate(t["data"]) != t["valid"]:
                mismatches.append(f"content: {group['description']} :: {t['description']}")
    assert not mismatches, "\n".join(mismatches)


def test_compiled_faster_than_interp():
    """The point of compiling: a schema compiled once beats compiling it
    again for every value (``validate_instance``).  Not a strict
    benchmark (host is noisy) — just assert it's not slower.  Verdicts
    come from the jsonschema oracle."""
    import time

    from go_jsonschema_spark.interp import validate_instance

    jsonschema = pytest.importorskip("jsonschema")
    schema = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 49}},
    }
    spec = SchemaSpec(schema)
    values = [{"k": i % 100} for i in range(20000)]
    validate = compile_validator(schema, spec=spec)
    t0 = time.time()
    a = [validate(v) for v in values]
    t_c = time.time() - t0
    t0 = time.time()
    b = [validate_instance(schema, v, spec=spec).valid for v in values]
    t_i = time.time() - t0
    oracle = jsonschema.Draft7Validator(schema)
    assert a == b == [oracle.is_valid(v) for v in values]
    assert t_c <= t_i * 1.2, (t_c, t_i)
