"""Machine-checked error-code parity with the reference (PARITY.md
"Exhaustiveness audit" table, verdict round-5 ask #7).

Scans every ``ERROR_CODES.*`` throw site in ``/root/reference/lib``
(recursively) and asserts each code is either (a) mapped to a repo error
string that the negative batteries / HTTP gate tests assert exactly, or
(b) explicitly adjudicated n/a-by-design with a recorded reason. A new
coded failure mode appearing in the reference therefore FAILS this test
until it is covered or adjudicated — the table can no longer rot.

Only that throw-site scan needs the reference checkout. The other two
checks run on ``CODE_MAP`` alone, which the scan keeps equal to the
reference's code set: every mapped repo error is asserted by a battery,
and PARITY.md names every code.
"""

from __future__ import annotations

import os
import re

import pytest

REF_LIB = "/root/reference/lib"
HERE = os.path.dirname(os.path.abspath(__file__))

# reference ERROR_CODES constant -> repo error strings asserted by the
# kernel negative batteries (tests/test_kernel_conformance.py), or the
# HTTP-gate marker, or an n/a-by-design adjudication.
HTTP = "__http_gate__"  # asserted in tests/test_http_responses.py
CODE_MAP: dict[str, list[str] | str] = {
    "COLLIDING_KEYWORDS": ["colliding keywords"],
    "CONFLICTING_INDEXES": ["conflicting indexes"],
    "INVALID_ANNOTATION": ["invalid annotation"],
    "INVALID_EMBEDDED_NODE": ["invalid embedded node"],
    "INVALID_ID_VALUE": ["invalid @id value"],
    "INVALID_INCLUDED_VALUE": ["invalid @included value"],
    "INVALID_INDEX_VALUE": ["invalid @index value"],
    "INVALID_IRI_MAPPING": ["invalid IRI mapping"],
    "INVALID_LANGUAGE_MAP_VALUE": ["invalid language map value"],
    "INVALID_LANGUAGE_TAGGED_STRING": ["invalid language-tagged string"],
    "INVALID_LANGUAGE_TAGGED_VALUE": ["invalid language-tagged value"],
    "INVALID_NEST_VALUE": ["invalid @nest value"],
    "INVALID_REVERSE_PROPERTY_MAP": ["invalid reverse property map"],
    "INVALID_REVERSE_PROPERTY_VALUE": ["invalid reverse property value"],
    "INVALID_REVERSE_VALUE": ["invalid @reverse value"],
    "INVALID_SET_OR_LIST_OBJECT": ["invalid set or list object"],
    # streaming-profile-only: out-of-order keys in a byte stream. The
    # batch pipeline holds whole blocks (SURVEY section 2.1 maps the
    # non-streaming mode), so key order can never constrain parsing.
    "INVALID_STREAMING_KEY_ORDER": "n/a by design (whole-block parse)",
    "INVALID_TERM_DEFINITION": ["invalid term definition"],
    "INVALID_TYPED_VALUE": ["invalid typed value"],
    "INVALID_TYPE_VALUE": ["invalid type value"],
    "INVALID_VALUE_OBJECT": ["invalid value object"],
    "INVALID_VALUE_OBJECT_VALUE": ["invalid value object value"],
    "INVALID_VERSION_VALUE": ["invalid @version value"],
    "LOADING_DOCUMENT_FAILED": HTTP,
    "MULTIPLE_CONTEXT_LINK_HEADERS": HTTP,
    "PROCESSING_MODE_CONFLICT": ["processing mode conflict"],
}


def _reference_codes() -> set[str]:
    codes: set[str] = set()
    pat = re.compile(r"ERROR_CODES\.([A-Z_]+)")
    for root, _dirs, files in os.walk(REF_LIB):
        for fn in files:
            if not fn.endswith(".ts"):
                continue
            with open(os.path.join(root, fn), encoding="utf-8") as f:
                codes.update(pat.findall(f.read()))
    return codes


@pytest.mark.skipif(not os.path.isdir(REF_LIB),
                    reason="reference checkout not present")
def test_every_reference_throw_site_code_is_mapped():
    codes = _reference_codes()
    assert codes, "reference scan found no ERROR_CODES throw sites"
    unmapped = codes - set(CODE_MAP)
    assert not unmapped, (
        f"reference lib/ throws codes with no parity adjudication: "
        f"{sorted(unmapped)} — extend CODE_MAP + PARITY.md")
    stale = set(CODE_MAP) - codes
    assert not stale, (
        f"CODE_MAP lists codes the reference no longer throws: "
        f"{sorted(stale)}")


def test_every_mapped_repo_code_is_asserted_by_a_battery():
    from tests.test_kernel_conformance import (
        MODE10_ERRORS, NEGATIVE_CASES, NEGATIVE_REMOTE_CASES)
    battery = {c[0] for c in NEGATIVE_CASES}
    battery |= {c[0] for c in NEGATIVE_REMOTE_CASES}
    battery |= {c[0] for c in MODE10_ERRORS}
    with open(os.path.join(HERE, "test_http_responses.py"),
              encoding="utf-8") as f:
        http_src = f.read()
    http_strings = {"LOADING_DOCUMENT_FAILED": "loading document failed",
                    "MULTIPLE_CONTEXT_LINK_HEADERS":
                        "multiple context link headers"}
    for code, target in CODE_MAP.items():
        if target == HTTP:
            assert http_strings[code] in http_src, (
                f"{code}: '{http_strings[code]}' not asserted in "
                f"test_http_responses.py")
        elif isinstance(target, list):
            for repo_code in target:
                assert repo_code in battery, (
                    f"{code}: repo error '{repo_code}' is not asserted "
                    f"by any negative battery case")


def test_parity_doc_table_names_every_code():
    """The human-readable PARITY.md table must mention every mapped code
    (grouped rows like 'INVALID_TYPED_VALUE / INVALID_TYPE_VALUE' count
    via substring)."""
    with open(os.path.join(HERE, os.pardir, "PARITY.md"),
              encoding="utf-8") as f:
        doc = f.read()
    missing = [c for c in CODE_MAP if c not in doc]
    assert not missing, f"PARITY.md table lacks rows for: {missing}"
