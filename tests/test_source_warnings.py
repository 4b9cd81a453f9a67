"""Every package, entry and test module compiles without warnings.

An invalid escape such as ``'\\s'`` in a non-raw string compiles with a
warning (``DeprecationWarning`` before Python 3.12, ``SyntaxWarning``
since) and usually means a string literal is not what it looks like.
"""

import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_sources_compile_without_warnings():
    files = [ROOT / "__spark_entry__.py",
             *sorted((ROOT / "dataflow_spark").rglob("*.py")),
             *sorted((ROOT / "tests").rglob("*.py"))]
    with warnings.catch_warnings():
        warnings.simplefilter("error", SyntaxWarning)
        warnings.simplefilter("error", DeprecationWarning)
        for f in files:
            compile(f.read_text(encoding="utf-8"), str(f), "exec")
