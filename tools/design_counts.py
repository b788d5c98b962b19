#!/usr/bin/env python3
"""Print the three design counts the ROADMAP tracks, plus the size of
FileManifest.scala itself:

  src_main_lines        lines in the Scala sources under src/main and,
                        in brackets, the code lines among them (neither
                        blank nor comment)
  filemanifest_lines    lines of FileManifest.scala, code lines bracketed
  filemanifest_defs     public defs on the FileManifest object (an
                        overload counts once per def) and, in brackets,
                        the distinct public verb names
  sparksession_sites    code lines that build a SparkSession by hand
                        (`SparkSession.builder`), under src/main and
                        src/test; comment lines are skipped

Usage (from the repository root, or pass the root):
    python3 tools/design_counts.py [repo_root]
"""
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "src", "main", "scala", "graft", "sources",
                        "FileManifest.scala")
# a member of `object FileManifest` sits at two spaces; private and
# private[...] members carry the modifier before `def`
PUBLIC_DEF = re.compile(r"^  def\s+([A-Za-z_][A-Za-z0-9_]*)")
BUILDER = re.compile(r"SparkSession\s*\.\s*builder")


def scala_files(top):
    for d, _, files in os.walk(top):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def is_comment(line):
    s = line.strip()
    return s.startswith("//") or s.startswith("*") or s.startswith("/*")


def line_counts(path):
    """(all lines, code lines) of one source file."""
    with open(path, encoding="utf-8") as f:
        lines = f.readlines()
    code = sum(1 for line in lines if line.strip() and not is_comment(line))
    return len(lines), code


def main():
    src_main = os.path.join(ROOT, "src", "main")
    main_lines = main_code = 0
    for p in scala_files(src_main):
        n, c = line_counts(p)
        main_lines += n
        main_code += c
    fm_lines, fm_code = line_counts(MANIFEST)

    with open(MANIFEST, encoding="utf-8") as f:
        names = [m.group(1) for m in map(PUBLIC_DEF.match, f) if m]

    sites = {}
    for part in ("main", "test"):
        n = 0
        for p in scala_files(os.path.join(ROOT, "src", part)):
            with open(p, encoding="utf-8") as f:
                n += sum(1 for line in f
                         if BUILDER.search(line) and not is_comment(line))
        sites[part] = n

    print(f"src_main_lines {main_lines} (code {main_code})")
    print(f"filemanifest_lines {fm_lines} (code {fm_code})")
    print(f"filemanifest_defs {len(names)} ({len(set(names))} distinct names)")
    print(f"sparksession_sites {sites['main'] + sites['test']} "
          f"(src/main {sites['main']}, src/test {sites['test']})")


if __name__ == "__main__":
    main()
