package graft;

import java.lang.annotation.ElementType;
import java.lang.annotation.Inherited;
import java.lang.annotation.Retention;
import java.lang.annotation.RetentionPolicy;
import java.lang.annotation.Target;
import org.scalatest.TagAnnotation;

/**
 * Marks the long-running randomized fuzz suites (minutes each; ~2/3 of the
 * full suite's wall-clock). The default `sbt test` gate EXCLUDES them
 * (build.sbt passes `-l graft.SlowFuzz` unless GRAFT_FULL_SUITE=1) so the
 * driver's verify window always fits the deterministic operator/parity
 * suites — the r16 gate died mid-suite when the full 52-minute run
 * outlived the session (VERDICT r16 item 2). The fuzz suites still run
 * via `GRAFT_FULL_SUITE=1 sbt test`, the untagged FuzzSmokeSpec runs every
 * fuzz surface in the default gate, and the per-round records
 * (FUZZ_r*.json) come from the one fuzz runner, `graft.Fuzz`, either way.
 */
@TagAnnotation
@Inherited
@Retention(RetentionPolicy.RUNTIME)
@Target({ElementType.METHOD, ElementType.TYPE})
public @interface SlowFuzz {}
