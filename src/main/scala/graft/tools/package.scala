package graft

/** Dev measurement mains — NOT part of the library surface or the driver
  * flow. Nothing in `graft.*` outside this package references them, so
  * they are dead code to any library consumer; keep it that way.
  *
  * Probe audit: a `def main` object under src/main stays only if
  *   (a) its scaladoc names the open ROADMAP item it answers, or
  *   (b) it is the only runnable check of a behaviour no spec covers, and
  *       its scaladoc says which behaviour.
  * A probe whose question is settled is deleted rather than kept around:
  * its source lives in the git commit that removed it, and its numbers
  * stay in the NOTES / OPTIMIZATION section that cites them (CHANGES.md
  * lists where, probe by probe). perfbench (`perfbench/run.py`) measures
  * pinned serving, the service write/OPTIMIZE/search path, recall and
  * per-layer spans, so a new serving or ingest question starts there.
  */
package object tools
