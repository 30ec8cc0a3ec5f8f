"""Builds the engine and the benchmark's JVM driver from source.

`perfbench/build.sbt` is an sbt build of its own that depends on the
repository's root build, so one `sbt compile` builds both. The runtime
classpath is exported once and cached with a digest of every build
input; a later run with the same sources reuses it and starts the JVM
directly, without sbt.
"""
import hashlib
import os
import subprocess
import sys

OFFLINE_SBT_OPTS = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]


def _inputs(root, bench):
    yield os.path.join(root, "build.sbt")
    yield os.path.join(root, "project", "build.properties")
    yield os.path.join(bench, "build.sbt")
    yield os.path.join(bench, "project", "build.properties")
    for top in (os.path.join(root, "src", "main"), os.path.join(bench, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)


def source_digest(root, bench):
    h = hashlib.sha256()
    for p in _inputs(root, bench):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure(root, bench, work, log):
    """Return the runtime classpath, building first if sources changed."""
    digest = source_digest(root, bench)
    out = os.path.join(work, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "digest"), os.path.join(out, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split() + OFFLINE_SBT_OPTS
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g", "-XX:-UsePerfData"])
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=bench, env=env, stdout=subprocess.PIPE, stderr=lf, text=True, timeout=600,
            stdin=subprocess.DEVNULL)
        lf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.exit(f"build failed (sbt exit {proc.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath, digest
