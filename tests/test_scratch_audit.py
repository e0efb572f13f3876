"""Static audit: only ``catalog.py`` touches the scratch tree directly.

Every file the engine writes under ``catalog.SCRATCH_DIR`` goes through
``catalog.scratch_path``: a fresh, write-once path under this process's
root, removed at exit, with ``catalog.sweep_scratch`` clearing whatever
a dead process left. A builder that joins its own fixed name onto
``SCRATCH_DIR`` and wipes it in place breaks every frame an earlier
build returned over that dir (``FileNotFoundException`` on collect) and
leaves a dir no exit hook removes. So outside ``catalog.py``, nothing in
the package or in ``examples/`` may name ``SCRATCH_DIR`` or
``shutil.rmtree``; a new site fails here with the burden of proof on its
author.
"""

from __future__ import annotations

from tests.audit_utils import EXAMPLES, PKG, name_references

_BANNED = {"SCRATCH_DIR", "rmtree"}


def test_only_catalog_names_scratch_dir_or_rmtree():
    pkg = [h for h in name_references(_BANNED, PKG) if h[0] != "catalog.py"]
    examples = name_references(_BANNED, EXAMPLES)
    assert not pkg and not examples, (
        "scratch files are written only through catalog.scratch_path and "
        f"removed only by catalog.py; package: {pkg}, examples: {examples}"
    )
