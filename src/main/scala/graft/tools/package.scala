package graft

/** Dev measurement mains — NOT part of the library surface or the driver
  * flow. Each is a standalone diagnostic/benchmark harness (scale demos,
  * recall decompositions, IO micro-measurements) with hardcoded local
  * masters and, in some cases, testdata paths; they exist so that every
  * performance or quality claim in NOTES_r*.md has a runnable source.
  * Nothing in `graft.*` outside this package references them, so they are
  * dead code to any library consumer; keep it that way.
  *
  * A probe whose question is settled is deleted rather than kept around:
  * its source lives in the git commit that removed it, and its numbers
  * stay in the notes file that cites them.
  */
package object tools
