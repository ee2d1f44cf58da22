"""Conformance-suite discovery: read the reference's Makefile.am test lists.

The reference drives its suites from automake variables
(e.g. /root/reference/tests/turtle-2013/Makefile.am:494-612): good files
must parse with no errors, bad files must produce >=1 error, eval files
must structurally match their sibling golden .nt. We consume those same
lists so our pass/fail target is exactly the reference's.
"""

from __future__ import annotations

import pathlib
import re
from typing import Dict, List

REF_TESTS = pathlib.Path("/root/reference/tests")


def makefile_vars(suite: str) -> Dict[str, List[str]]:
    """Parse variable -> file list from a suite's Makefile.am."""
    text = (REF_TESTS / suite / "Makefile.am").read_text()
    out: Dict[str, List[str]] = {}
    for m in re.finditer(
        r"^([A-Z_0-9]+)\s*=\s*((?:[^\n\\]*\\\n)*[^\n]*)", text, re.M
    ):
        name, body = m.group(1), m.group(2)
        files = body.replace("\\\n", " ").split()
        out[name] = files
    return out

