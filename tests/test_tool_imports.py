"""Scripts outside the package must not import package names that no
longer exist: every ``from pyramidscheme_jl_spark... import name`` in
``tools/*.py``, ``bench.py`` and ``bench_extra.py`` has to resolve."""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_script_package_imports_resolve():
    scripts = sorted(ROOT.glob("tools/*.py")) + [ROOT / "bench.py", ROOT / "bench_extra.py"]
    missing = []
    for path in scripts:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == "pyramidscheme_jl_spark"
            ):
                continue
            where = f"{path.relative_to(ROOT)}:{node.lineno}"
            try:
                mod = importlib.import_module(node.module)
            except ImportError as e:
                missing.append(f"{where}: {node.module} ({e})")
                continue
            for alias in node.names:
                if alias.name == "*" or hasattr(mod, alias.name):
                    continue
                try:  # a submodule not yet imported by the package
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    missing.append(f"{where}: {node.module}.{alias.name}")
    assert len(scripts) > 2 and not missing, missing
