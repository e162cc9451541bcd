"""Builds everything a run needs inside the checkout, once per source state.

- classes: the engine (`src/main/scala`) and the harness compiled together
  with the Scala compiler that ships in Spark's jars (no sbt needed);
- data: the fixture tables, made at a fixed scale factor by the benchmark's
  own generator (`harness/FixtureGen.scala`) and checked against the content
  digest pinned in `fixtures.json`;
- oracle results: each checked query's DuckDB oracle output over that data,
  cached by (data, SQL) because some oracles take tens of seconds.

Everything lands under `.bench_build/perfbench/` and is rebuilt when the
inputs it was made from change.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
from pathlib import Path

SF = 0.1
HERE = Path(__file__).resolve().parent
PINNED = HERE / "fixtures.json"

# what `build.sbt` passes to forked JVMs: Spark 4 on JDK 17 outside spark-submit
_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
          "java.net", "java.nio", "java.util", "java.util.concurrent",
          "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
          "sun.security.action", "sun.util.calendar"]
JVM_OPTS = ([a for p in _OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory as the engine's own build declares it
    (`unmanagedBase` in build.sbt), else `$SPARK_HOME/jars`."""
    sbt = Path(root) / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.is_file() else None
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise BuildError("no Spark jars: build.sbt declares no unmanagedBase and SPARK_HOME is unset")


def build_dir(root):
    return Path(root) / ".bench_build" / "perfbench"


def _digest(paths, extra=""):
    h = hashlib.sha1(extra.encode())
    for p in paths:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _fresh(target, stamp):
    marker = target / ".stamp"
    return marker.is_file() and marker.read_text() == stamp


def _replace(tmp, target, stamp):
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(target, ignore_errors=True)
    tmp.rename(target)


def classpath(root):
    return f"{build_dir(root) / 'classes'}:{spark_jars(root)}/*"


def java(root, main_args, heap, cwd=None, env=None, timeout=None, log=None, opts=()):
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}"] + JVM_OPTS + list(opts)
           + ["-cp", classpath(root), "perfbench.Harness"] + main_args)
    return subprocess.run(cmd, cwd=cwd, env=env, timeout=timeout,
                          stdout=log, stderr=subprocess.STDOUT, check=False)


def ensure_classes(root):
    root = Path(root)
    src = root / "src" / "main" / "scala"
    if not src.is_dir():
        raise BuildError(f"no engine sources at {src}")
    jars = spark_jars(root)
    jar = jars / "scala-compiler-2.13.17.jar"
    if not jar.is_file():
        raise BuildError(f"no Scala compiler at {jar}")
    files = sorted(src.rglob("*.scala")) + sorted((HERE / "harness").glob("*.scala"))
    stamp = _digest(files)
    target = build_dir(root) / "classes"
    if _fresh(target, stamp):
        return stamp
    tmp = target.with_name("classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler_cp = ":".join(str(jars / f"scala-{m}-2.13.17.jar")
                           for m in ("compiler", "library", "reflect"))
    spark_cp = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
                        "-classpath", spark_cp] + [str(f) for f in files],
                       capture_output=True, text=True, check=False)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + (r.stdout + r.stderr)[-3000:])
    _replace(tmp, target, stamp)
    return stamp


def data_digest(data_dir):
    """{table: digest} of each fixture table's content: column names and
    types, row count and an order-free sum of DuckDB row hashes."""
    import duckdb
    con = duckdb.connect()
    try:
        out = {}
        for f in sorted(Path(data_dir).glob("*.parquet")):
            src = f"read_parquet('{f}')"
            cols = [c[:2] for c in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
            n, h = con.sql(f"SELECT count(*), sum(hash(t)::HUGEINT) FROM {src} t").fetchone()
            out[f.stem] = hashlib.sha1(repr((cols, n, h)).encode()).hexdigest()
        return out
    finally:
        con.close()


def ensure_data(root, env):
    """The fixtures, generated once and refused unless their content is the
    pinned one, so every checkout benchmarks the same inputs."""
    root = Path(root)
    stamp = _digest([HERE / "harness" / "FixtureGen.scala"], extra=f"sf={SF}")
    target = build_dir(root) / "data" / f"sf{SF}"
    if _fresh(target, stamp):
        return target, stamp
    tmp = target.with_name(target.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log_path = build_dir(root) / "gen.log"
    with open(log_path, "w") as log:
        r = java(root, ["gen", str(SF), str(tmp)], "3g", cwd=tmp, env=env,
                 timeout=600, log=log)
    if r.returncode != 0:
        raise BuildError(f"fixture generation failed, see {log_path}")
    pinned = json.loads(PINNED.read_text())
    got = {"sf": SF, "tables": data_digest(tmp)}
    if got != pinned:
        raise BuildError(f"generated fixtures differ from {PINNED.name}: {got}")
    _replace(tmp, target, stamp)
    return target, stamp


def oracle_sql(root, names, env):
    """The engine's DuckDB oracle SQL (`SparkEntry.oracleSql`) for `names`."""
    out = build_dir(root) / "oracles.json"
    with open(build_dir(root) / "oracles.log", "w") as log:
        r = java(root, ["oracles", str(out)] + sorted(names), "1g",
                 env=env, timeout=120, log=log)
    if r.returncode != 0:
        raise BuildError("could not read the oracle SQL")
    return json.loads(out.read_text())


def oracle_cache(root, data_stamp, name, sql):
    key = hashlib.sha1(f"{data_stamp}\n{name}\n{sql}".encode()).hexdigest()
    return build_dir(root) / "oracle" / f"{key}.parquet"
