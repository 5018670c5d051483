"""Packaging: the engine is an installable distribution, not a
sys.path trick. Verifies (a) the PEP 621 metadata builds a valid sdist,
(b) an editable install lands the package and its console scripts in an
isolated target (this container lacks the `wheel` package, so the
legacy `setup.py develop` path stands in for `pip install -e .` —
byte-identical egg-link semantics), and (c) every [project.scripts]
entry point resolves to a real callable."""

import os
import subprocess
import sys
import tarfile
import tomllib

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sdist_builds_with_package_and_tools(tmp_path):
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import setuptools.build_meta as b, sys; print(b.build_sdist(sys.argv[1]))",
            str(tmp_path),
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    sdists = [f for f in os.listdir(tmp_path) if f.endswith(".tar.gz")]
    assert len(sdists) == 1
    with tarfile.open(tmp_path / sdists[0]) as tf:
        names = tf.getnames()
        root = names[0].split("/")[0]
        for member in (
            "pyproject.toml",
            "sneldb_spark/__init__.py",
            "sneldb_spark/engine.py",
            "sneldb_spark/tools/soak.py",
            "sneldb_spark/store/event_store.py",
        ):
            assert f"{root}/{member}" in names, f"sdist missing {member}"
        pkg_info = tf.extractfile(f"{root}/PKG-INFO").read().decode()
    assert "Name: sneldb-spark" in pkg_info
    assert "Version: " in pkg_info
    # dependency pins ride in the sdist (requires.txt on this setuptools
    # vintage; newer ones put Requires-Dist straight into PKG-INFO)
    requires = [n for n in names if n.endswith("requires.txt")]
    if "Requires-Dist: pyspark" not in pkg_info:
        assert requires, "no dependency metadata in the sdist"


def test_console_script_entry_points_resolve():
    import importlib

    with open(os.path.join(REPO, "pyproject.toml"), "rb") as f:
        scripts = tomllib.load(f)["project"]["scripts"]
    assert set(scripts) >= {
        "sneldb-cli",
        "sneldb-server",
        "sneldb-stress",
        "sneldb-soak",
        "sneldb-wal-archive",
        "sneldb-inspect",
    }
    for name, target in scripts.items():
        mod, _, attr = target.partition(":")
        fn = getattr(importlib.import_module(mod), attr)
        assert callable(fn), f"{name} -> {target} is not callable"


def test_editable_install_into_isolated_target(tmp_path):
    """setup.py develop into a private site dir: the installed package
    must be importable from there and the generated console scripts must
    run (--help exits 0)."""
    site = tmp_path / "site"
    bindir = site / "bin"
    site.mkdir()
    # a plain PYTHONPATH dir does not process .pth files; this shim makes
    # the isolated dir behave like the site-packages a real pip install
    # targets (python auto-imports sitecustomize from sys.path)
    (site / "sitecustomize.py").write_text(
        "import os, site; site.addsitedir(os.path.dirname(os.path.abspath(__file__)))\n"
    )
    env = {**os.environ, "PYTHONPATH": str(site)}
    out = subprocess.run(
        [
            sys.executable,
            "setup.py",
            "develop",
            "--no-deps",
            "--install-dir",
            str(site),
            "--script-dir",
            str(bindir),
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert (bindir / "sneldb-cli").exists()
    assert (bindir / "sneldb-server").exists()
    # import resolves through the egg-link, not the cwd
    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sneldb_spark, os; print(os.path.dirname(sneldb_spark.__file__))",
        ],
        cwd=str(tmp_path),  # NOT the repo
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert probe.returncode == 0, probe.stderr[-1000:]
    assert probe.stdout.strip() == os.path.join(REPO, "sneldb_spark")
    helped = subprocess.run(
        [sys.executable, str(bindir / "sneldb-cli"), "--help"],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert helped.returncode == 0, helped.stderr[-1000:]
    assert "sneldb-cli" in helped.stdout


_WORKER_KERNELS = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from sneldb_spark.pipeline.multimodal import extract_features, resize_images
from sneldb_spark.pipeline.similarity import brute_force_topk, ivf_topk, lsh_topk
from sneldb_spark.pipeline.text import unigram_encode
from sneldb_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)
emb = spark.createDataFrame(
    [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(20)],
    "vec_id long, embedding array<double>",
)
q = emb.where("vec_id < 3")
ran = {
    "lsh_topk": lsh_topk(emb, q, k=2, planes=8, dim=8).count(),
    "brute_force_topk": brute_force_topk(emb, q, k=2).count(),
    "ivf_topk": ivf_topk(emb, q, k=2, nlist=2, nprobe=2).count(),
}
docs = spark.createDataFrame(
    [(i, f"spark join{i % 3} hash") for i in range(6)], "doc_id long, text string"
)
vocab = [(c, -3.0) for c in "abcdefghijklmnopqrstuvwxyz0123456789"] + [("join", -1.0)]
ran["unigram_encode"] = unigram_encode(docs, vocab).count()
media = docs.select(
    F.col("doc_id").alias("media_id"),
    F.lit("image/png").alias("mime"),
    F.encode("text", "UTF-8").alias("data"),
    (F.lit(100) + F.col("doc_id") * 100).cast("int").alias("meta_width"),
    F.lit(300).cast("int").alias("meta_height"),
    F.lit(None).cast("long").alias("meta_duration_ms"),
)
ran["extract_features"] = extract_features(media).count()
ran["resize_images"] = resize_images(media.drop("meta_duration_ms"), 256, 256).count()
print(sorted(ran.items()))
assert all(ran.values()), ran
"""


def test_kernels_run_where_workers_cannot_import_the_package(tmp_path):
    """get_spark ships sneldb_spark to the Python workers: with the repo on
    the driver's sys.path only (cwd elsewhere, no PYTHONPATH), Arrow
    kernels that call module-level helpers still run."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SNELDB_DRIVER_MEM="1g", SNELDB_PYTHON_POOL_KEEPALIVE="0")
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_KERNELS, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ModuleNotFoundError" not in out.stderr
