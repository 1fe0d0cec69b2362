"""Build file of the benchmark package: compiles the engine (src/main/scala)
and the harness (perfbench/src) with the Scala compiler that ships in
Spark's jars, into .bench_build/. A build is skipped when a stamp of the
sources' content still matches.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME to a Spark 4 install")
    return Path(home)


def spark_classpath():
    return str(spark_home() / "jars" / "*")


def engine_sources(root):
    src = root / "src" / "main" / "scala"
    files = sorted(src.rglob("*.scala")) if src.is_dir() else []
    if not files:
        raise BuildError(f"engine sources not found under {src}")
    return files


def digest(files, base, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(base)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_tree(name, files, out, classpath, key):
    stamp = out.parent / f"{name}.stamp"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return False
    tmp = out.parent / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp.parent / f"{name}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", classpath, f"@{args}"]
    print(f"[build] compiling {name} ({len(files)} files)", file=sys.stderr)
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if done.returncode != 0:
        raise BuildError(f"{name} failed to compile:\n{done.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(key)
    return True


def build(root):
    """Compile what changed; returns the runtime classpath."""
    engine = engine_sources(root)
    spark_cp = spark_classpath()
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    engine_key = digest(engine, root)
    engine_out = out / "engine"
    compile_tree("engine", engine, engine_out, spark_cp, engine_key)
    harness = sorted((HERE / "src").rglob("*.scala"))
    harness_key = digest(harness, HERE, salt=engine_key)
    harness_out = out / "harness"
    compile_tree("harness", harness, harness_out,
                 os.pathsep.join([str(engine_out), spark_cp]), harness_key)
    return os.pathsep.join([str(harness_out), str(engine_out), spark_cp])


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
