"""Builds the bench program (perfbench/build.sbt) from source with sbt.

The build compiles the engine's main sources together with the bench and
records the runtime classpath. It reruns only when a source or build file
changed since the last build in this checkout.
"""

import hashlib
import os
import subprocess
import sys

ENGINE_MARKER = os.path.join("src", "main", "scala", "graft", "streaming", "QueryRunner.scala")


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src")]
    files = [os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(root, build_dir, timeout_s=840):
    """Returns the bench's runtime classpath, building first if needed."""
    if not os.path.isfile(os.path.join(root, ENGINE_MARKER)):
        raise RuntimeError("engine sources not found under %s" % os.path.join(root, "src"))
    os.makedirs(build_dir, exist_ok=True)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    want = stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        extra = ["-Dsbt.offline=true"]
        if os.path.isfile(repos):
            extra += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        opts = " ".join([opts] + extra).strip()
    env["SBT_OPTS"] = opts
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=timeout_s)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError("sbt build failed (exit %d)" % proc.returncode)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp
