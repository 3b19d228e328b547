#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/src) into one jar, with
the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py          # prints the build directory

The output lives under .bench_build/perfbench/ at the repository root, keyed
by a hash of every input file, so an unchanged tree is built once. The JVM
flags every run uses are defined here too (`jvm_command`).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build" / "perfbench"
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def jvm_command(built: Path, work: Path, main_args) -> list:
    """The harness JVM: fixed heap, the JDK 17 module opens Spark needs,
    every temporary file under `work`."""
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:+UseParallelGC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([str(built / "perfbench.jar"), str(spark_jars() / "*")]),
        "graft.perfbench.Main",
    ]
    return cmd + list(main_args)


def inputs():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    harness = sorted((BENCH / "src").rglob("*.scala"))
    resources = sorted(p for p in (ROOT / "src" / "main" / "resources").rglob("*") if p.is_file())
    return engine + harness, resources


def compile_jar(sources, resources, compiler, built: Path) -> None:
    classes = built / "classes"
    classes.mkdir(parents=True)
    argfile = built / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(str(c) for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(spark_jars() / "*"),
           "-d", str(classes), f"@{argfile}"]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit("build: scalac failed")
    base = ROOT / "src" / "main" / "resources"
    with zipfile.ZipFile(built / "perfbench.jar", "w", zipfile.ZIP_DEFLATED) as jar:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                jar.write(p, p.relative_to(classes).as_posix())
        for p in resources:
            jar.write(p, p.relative_to(base).as_posix())
    shutil.rmtree(classes)


def build() -> Path:
    sources, resources = inputs()
    jars = spark_jars()
    compiler = [j for m in ("compiler", "library", "reflect") for j in sorted(jars.glob(f"scala-{m}-*.jar"))]
    if len(compiler) != 3:
        raise SystemExit(f"build: scala compiler jars not found in {jars}")
    h = hashlib.sha256()
    for p in sources + resources + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(c.name for c in compiler).encode())
    built = OUT / f"build-{h.hexdigest()[:16]}"
    if (built / ".complete").exists():
        return built
    shutil.rmtree(built, ignore_errors=True)
    try:
        compile_jar(sources, resources, compiler, built)
    except BaseException:
        shutil.rmtree(built, ignore_errors=True)
        raise
    (built / ".complete").write_text("")
    return built


if __name__ == "__main__":
    print(build())
